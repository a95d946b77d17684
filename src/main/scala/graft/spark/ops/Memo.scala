package graft.spark.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** A bounded, session-scoped LRU memo of materialized DataFrames — the
  * one cache primitive behind every [[DedupOps]] memo (shingles, grams,
  * postings, pair lists, CC labels).
  *
  * Keys are structural: the session, the canonicalized analyzed plan of
  * each input, and the op's parameters, compared with `equals` (the test
  * `sameResult` makes). Two inputs whose plan hashes merely collide probe
  * the same bucket but never share an entry.
  *
  * Eviction contract: at most [[Memo.MaxEntries]] entries stay live; the
  * least recently used one is dropped and its storage handed to
  * `release`. A handle returned before its entry was evicted is not
  * guaranteed readable afterwards — a checkpoint-backed value has no
  * lineage to recompute from. Calling the op again rebuilds the entry.
  * Entries of stopped sessions are purged without release on the next
  * lookup. Memos key on the PLAN, not the data: if the files under a
  * plan are overwritten in place within one session, call
  * [[DedupOps.clearMemos]] first.
  */
private[ops] final class Memo(release: DataFrame => Unit) {

  private val entries =
    new java.util.LinkedHashMap[Memo.Key, DataFrame](8, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Memo.Key, DataFrame]): Boolean = {
        val evict = size() > Memo.MaxEntries
        // release may throw if the entry's session has since been
        // stopped; a dead entry must never fail a live session's lookup
        if (evict) scala.util.Try(release(e.getValue))
        evict
      }
    }

  def getOrElseUpdate(key: Memo.Key)(build: => DataFrame): DataFrame = synchronized {
    entries.entrySet().removeIf(e => e.getKey.session.sparkContext.isStopped)
    val cached = entries.get(key)
    if (cached != null) cached
    else {
      val df = build
      entries.put(key, df)
      df
    }
  }

  def clear(): Unit = synchronized {
    entries.values.forEach(df => scala.util.Try(release(df)))
    entries.clear()
  }
}

private[ops] object Memo {

  /** Live entries per memo. */
  val MaxEntries = 4

  final case class Key(session: SparkSession, parts: Seq[Any])

  /** The structural identity of a DataFrame's query. */
  def plan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed.canonicalized

  /** Key for an op over `df` with further key parts (other plans via
    * [[plan]], parameters).
    */
  def key(df: DataFrame, params: Any*): Key = Key(df.sparkSession, plan(df) +: params)
}
