package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale probe for the dedup family: runs d2/d3/d5/d9 on the sf0.1
  * working set replicated `REP`x with shifted ids (each replica keeps its
  * own planted near-dup pairs), and reports wall times. The point is the
  * GROWTH SHAPE: after round 4's bucket capping, candidate generation is
  * linear in corpus size — the round-3 uncapped self-joins would have
  * grown quadratically on the replicated duplicate clusters.
  *
  * Usage: Test/runMain graft.DedupScaleProbe [rep] [queries]
  * (run exclusively; `queries` is a comma list from
  * d2,d2b,d3,d5,d9,d12,d14 — default d2,d3,d5,d9. Skip d2 at rep > 10:
  * its OUTPUT grows quadratically in cluster multiplicity, so the run
  * time is the operator's answer size, not a plan property. d2b is the
  * bounded variant whose growth must stay ~linear at any rep; d12's
  * output is per-doc (rows = corpus size) so it must also stay ~linear;
  * d14's output is one verdict row per BATCH doc — replication grows the
  * corpus side only, so rows stay constant and wall must stay ~linear in
  * the corpus.)
  */
object DedupScaleProbe {
  def main(args: Array[String]): Unit = {
    val rep = if (args.length > 0) args(0).toInt else 10
    val which = (if (args.length > 1) args(1) else "d2,d3,d5,d9").split(",").toSet
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.spark.ops._

    val base0 = DedupOps.withVariants(spark, "/root/testdata/sf0.1")
    val reps = spark.range(0, rep, 1, 8).toDF("rep")
    val base = reps.join(broadcast(base0))
      .select((col("doc_id") + col("rep") * 10000000L).as("doc_id"), col("text"))
    val n = base.count()

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"[probe] $name%-16s rows=$rows%9d wall=${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    DedupOps.clearMemos()
    println(s"[probe] corpus docs=$n (rep=$rep)")
    if (which("d2")) time("d2_ngram")(DedupOps.ngramJaccardPairs(base, 0.6).count())
    if (which("d2b")) time("d2b_capped")(DedupOps.ngramJaccardPairsCapped(base, 0.6).count())
    if (which("d3")) time("d3_minhash")(DedupOps.minhashLshPairs(base, 0.6).count())
    if (which("d5")) time("d5_simhash")(DedupOps.simhashPairs(base, 3).count())
    // toRdd.count(), not count(): a plain count over d12's per-doc left
    // join lets Catalyst prune the whole span computation away
    if (which("d12")) time("d12_spans")(DedupOps.spanDedup(base).queryExecution.toRdd.count())
    // d14: fixed-size batch (the UNreplicated variants) vs the replicated
    // corpus — verdict rows stay constant while corpus postings grow
    if (which("d14")) time("d14_incr") {
      val docs0 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        .select(col("doc_id"), col("text"))
      DedupOps.incrementalDupVerdict(base, DedupOps.variantBatch(docs0), 0.6)
        .queryExecution.toRdd.count()
    }
    if (which("d9")) time("d9_cc_star") {
      val out = DedupOps.clusterIdsStar(base, DedupOps.minhashLshPairs(base, 0.6))
      val c = out.count(); out.unpersist(); c
    }
    DedupOps.clearMemos()
    spark.stop()
  }
}
