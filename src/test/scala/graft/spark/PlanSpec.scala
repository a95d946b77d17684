package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Physical-plan audits: the plans must be the ones we'd want at 100 TB —
  * columns pruned at the scan, small dims broadcast, aggregates partial
  * (map-side combine), extraction shuffle-free.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def planOf(name: String): String =
    graft.SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def formatted(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("extraction (x1) is map-only up to the projection: no Exchange") {
    val p = planOf("x1_extract_text")
    assert(!p.contains("Exchange"), p)
  }

  test("documents scan prunes columns for t1 (only doc_id + text read)") {
    val f = formatted("t1_text_stats")
    val read = f.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text"), read)
    assert(!read.contains("lang") && !read.contains("source"), read)
  }

  test("filter pushdown reaches the parquet scan") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .where(col("doc_id") < 100).select(col("doc_id"), length(col("text")))
    val f = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(f.contains("PushedFilters") && f.contains("LessThan(doc_id,100)"), f)
  }

  test("r2 join broadcasts the customer dim") {
    val p = planOf("r2_customer_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("d1 exact dedup aggregates partially before the shuffle") {
    val f = formatted("d1_exact_dedup")
    assert(f.contains("partial_min") || f.contains("partial_count"), f)
  }

  test("e1 brute-force topk broadcasts the query side") {
    val p = planOf("e1_cosine_topk")
    assert(p.contains("Broadcast"), p)
  }

  test("e2 ANN candidate dedup shuffles bare id pairs, never embeddings") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val df = graft.spark.ops.SimOps.annTopK(emb, 0L to 9L, 10)
    // the HashAggregate implementing distinct() must group on exactly
    // (query_id, vec_id) — an embedding column in its keys would mean
    // float payloads hashed and exchanged per candidate
    val agg = df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if a.groupingExpressions.nonEmpty => a
    }
    assert(agg.nonEmpty)
    val dedup = agg.filter(a =>
      a.groupingExpressions.map(_.references.map(_.name).mkString).exists(n =>
        n.contains("query_id") || n.contains("vec_id")))
    assert(dedup.nonEmpty)
    assert(dedup.forall(a =>
      !a.groupingExpressions.exists(_.references.exists(_.name.contains("emb")))),
      dedup.mkString("\n"))
  }

  test("d2 shingles once: the persisted shingle view feeds both subtrees") {
    val df = graft.SparkEntry.queries("d2_ngram_pairs")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the set-size side must read the cached shingle relation, not
    // recompute the scan+split+shingle lineage
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"), p)
    // the inverted index comes from the row-format postings memo (a
    // localCheckpoint LogicalRDD), so d2's own plan carries NO
    // explode+groupBy over shingle occurrences per execution
    assert(p.contains("Scan ExistingRDD"), p)
    // (nor does the cached shingle view it reads, whose physical plan
    // is checked too)
    val optimized = df.queryExecution.optimizedPlan
    val generators = optimized.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    } ++ optimized.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r.cachedPlan
    }.flatMap(_.collect { case g: org.apache.spark.sql.execution.GenerateExec => g })
    assert(generators.isEmpty, generators.mkString("\n"))
    // the exchange-payload optimization (shuffle keys on the 64-bit
    // shingle hash, not the trigram string) lives in the postings
    // lineage the memo checkpoints
    val ops = graft.spark.ops.DedupOps
    val withSh = ops.withVariants(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        ops.shingles(org.apache.spark.sql.functions.col("text")).as("sh"))
    val pPostings = ops.rawPostings(withSh).queryExecution.executedPlan.toString
    assert(pPostings.contains("xxhash64"), pPostings)
  }

  test("bucketed tables co-locate the fact join: no shuffle on the join keys") {
    import org.apache.spark.sql.functions.col
    // pre-bucketing both sides on the join key is the 100 TB recipe for
    // repeated fact-fact joins (one write-time shuffle, then every join
    // is exchange-free); prove the plan here
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_extendedprice"))
      .write.format("parquet").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li_b").saveAsTable("li_b")
    spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
      .write.format("parquet").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/ord_b").saveAsTable("ord_b")
    val joined = spark.table("li_b")
      .join(spark.table("ord_b").hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
    joined.collect() // finalize AQE
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    spark.sql("DROP TABLE li_b")
    spark.sql("DROP TABLE ord_b")
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the plan)") {
    import org.apache.spark.sql.functions._
    val sp = spark
    import sp.implicits._
    // 95% of the left side shares one key; lower AQE's skew thresholds so
    // the sf0.001-sized input trips the same re-plan a 100 TB job would
    val conf = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "20KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "20KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(0, 200000)
        .select(when(col("id") % 20 =!= 0, lit(7L)).otherwise(col("id")).as("k"),
          concat(lit("payload-"), col("id")).as("v"))
      val right = spark.range(0, 100).select(col("id").as("k"), lit("dim").as("d"))
      val joined = left.join(right, "k")
      joined.collect() // finalize the adaptive plan
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), p)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("whole-stage codegen wraps the relational queries") {
    val df = graft.SparkEntry.queries("r1_lineitem_agg")(spark, sf)
    df.collect() // finalize the adaptive plan (count() would build a new one)
    val p = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("codegen id"), p)
  }

  test("t1 fingerprints via the native rolling_hash (no per-char HOF)") {
    val df = graft.SparkEntry.queries("t1_text_stats")(spark, sf)
    df.collect()
    val p = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("rolling_hash"), p)
    // the old formulation exploded the text into one single-char string
    // per character: split with the EMPTY pattern, rendered as
    // `split(text#N, , -1)`; token-level \s+ splits legitimately remain
    assert(!p.contains(", , -1)"), p.linesIterator.filter(_.contains("split")).mkString("\n"))
  }

  test("t5 domain quota ranks without a window operator (two-phase top-k)") {
    val df = graft.SparkEntry.queries("t5_domain_quota")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p)
  }

  test("e1 top-k ranks without a window operator (two-phase top-k)") {
    val df = graft.SparkEntry.queries("e1_cosine_topk")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p)
  }

  test("t8 chunking is map-only: no Exchange") {
    val p = planOf("t8_chunk")
    assert(!p.contains("Exchange"), p)
  }

  test("d12 span dedup: gram window, no cartesian, no gram-side re-scan join") {
    val df = graft.SparkEntry.queries("d12_span_dedup")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // duplication is decided by ONE count window partitioned by the gram
    // key (hashed) — a join-back against a HAVING-count aggregate would
    // either recompute the gram generation or require caching it
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the gram generation (SerializeFromObject of the mapPartitions)
    // must appear exactly once IN THE FINAL PLAN (the AQE plan string
    // repeats every operator in its '== Initial Plan ==' section) — a
    // second occurrence would mean a subtree recompute of the whole
    // tokenize+gram pass
    val fin = p.split("== Initial Plan ==")(0)
    val gramScans = "SerializeFromObject".r.findAllIn(fin).length
    assert(gramScans == 1, s"gram generation ran $gramScans times:\n$fin")
  }

  test("d13 span apply: rank window over gram key, single gram generation") {
    val df = graft.SparkEntry.queries("d13_span_apply")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    val fin = p.split("== Initial Plan ==")(0)
    val gramScans = "SerializeFromObject".r.findAllIn(fin).length
    assert(gramScans == 1, s"gram generation ran $gramScans times:\n$fin")
  }

  test("r9 as-of join: ONE exchange on the key, no join operator, no cartesian") {
    val df = graft.SparkEntry.queries("r9_asof")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val fin = p.split("== Initial Plan ==")(0)
    // the union+window form must not degrade into a range/cross join —
    // the whole point is one hash exchange on user_id + one sort
    assert(!fin.contains("CartesianProduct") && !fin.contains("Join"), fin)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(fin).length
    assert(exchanges == 1, s"expected 1 key exchange, got $exchanges:\n$fin")
    assert(fin.contains("Window"), fin)
  }

  test("t14 keywords: df-side join is broadcast at this scale, window partitioned by doc") {
    val df = graft.SparkEntry.queries("t14_keywords")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val fin = p.split("== Initial Plan ==")(0)
    // the 1-row N side must arrive as a broadcast (BNLJ), never a
    // CartesianProduct, and the rank window must partition by doc_id
    // (bounded per-doc cardinality — no global sort of the scored table)
    assert(!fin.contains("CartesianProduct"), fin)
    assert(fin.contains("BroadcastNestedLoopJoin"), fin)
    assert(fin.contains("windowspecdefinition(doc_id"), fin)
  }

  test("r10 range join is an equi-join on the bucket, never a nested loop") {
    val df = graft.SparkEntry.queries("r10_range_join")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val fin = p.split("== Initial Plan ==")(0)
    assert(!fin.contains("BroadcastNestedLoopJoin") && !fin.contains("CartesianProduct"), fin)
    // either shuffled or broadcast HASH join is fine — the invariant is
    // that the range predicate rides on a bucket EQUI-key
    assert(fin.contains("HashJoin") || fin.contains("SortMergeJoin"), fin)
    assert(fin.contains("Generate explode"), fin) // interval -> bucket expansion
  }

  test("t15 HLL sketch aggregates partially before the shuffle") {
    val df = graft.SparkEntry.queries("t15_hll_tokens")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // partial_approx_count_distinct must appear below the exchange: the
    // sketch (not the token set) is what travels
    assert(p.contains("partial_approx_count_distinct") ||
      p.contains("partial(approx_count_distinct"), p)
  }

  test("t16 url dedup: ONE exchange on the canonical key, no join-back") {
    val df = graft.SparkEntry.queries("t16_url_dedup")(spark, sf)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!fin.contains("Join"), fin)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(fin).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$fin")
  }

  test("m9/m10 header probes are projection-only: no Exchange, no decoder") {
    // The PROBE must add no exchange over its input: at 100 TB the asset
    // lake already exists and the probe is a projection-only scan. The
    // local ASSET SYNTHESIS may carry one REPARTITION_BY_NUM exchange
    // (round 7's scan-parallelism floor on the codec-heavy generators,
    // see Par.spreadBy) — that exchange belongs to generation, not the
    // probe, so the assertion compares probe-plan exchanges against
    // input-plan exchanges instead of demanding zero overall.
    def exchanges(p: String): Int = "Exchange".r.findAllIn(p).length
    val pngIn = graft.spark.ops.MultimodalOps.pngAssets(spark, sf)
    val pngProbe = graft.spark.ops.MultimodalOps.pngHeaderProbe(pngIn)
    assert(exchanges(pngProbe.queryExecution.executedPlan.toString) ==
      exchanges(pngIn.queryExecution.executedPlan.toString),
      pngProbe.queryExecution.executedPlan.toString)
    // the WAV generator has no repartition (trivial per-row encoder), so
    // the full m10 plan stays exchange-free end to end
    val p10 = graft.SparkEntry.queries("m10_wav_header")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p10.contains("Exchange"), s"m10_wav_header:\n$p10")
  }

  test("t9 mixture sampling is map-only: no Exchange, scan prunes to id+source") {
    val df = graft.SparkEntry.queries("t9_mixture")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    val f = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val read = f.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("source"), read)
    assert(!read.contains("text"), read) // the keep decision never reads text
  }

  test("d14 incremental verdict: no cartesian, no window, argmax is a partial aggregate") {
    val df = graft.SparkEntry.queries("d14_incremental")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    // the per-batch-doc best match is a struct max aggregate (map-side
    // partial), NOT a rank window funnel over the candidate list
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_max") || p.contains("partial_count"), p)
  }

  test("d11 decontamination joins the benchmark gram set by broadcast") {
    val df = graft.SparkEntry.queries("d11_decontaminate")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the gram semi-join must be a broadcast hash join (benchmark side
    // broadcast) — a sort-merge join here would shuffle the whole
    // corpus's exploded n-grams
    assert(p.contains("BroadcastHashJoin"), p)
  }
}
