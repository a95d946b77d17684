package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.spark.ops._

/** Spark-side integration tests at sf0.001 (one shared local session). */
class SparkOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("extraction pipeline: roundtrip + media survive at sf0.001") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").cast("string"), col("text"))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val out = ExtractPipeline.extract(InterleavedGen.table(spark, sf)).collect()
    assert(out.length == docs.size)
    assert(out.forall(_.error == null))
    out.foreach { d =>
      val main = d.spans.filter(_.kind == "text").map(_.text).mkString
      assert(main == docs(d.doc_id), s"roundtrip ${d.doc_id}")
      val nMedia = d.spans.count(_.kind == "media")
      assert(nMedia == (d.doc_id.toLong % 5).toInt)
      assert(d.spans.map(_.offset) == d.spans.map(_.offset).sorted)
    }
  }

  test("extraction plan is map-only (no shuffle)") {
    val plan = ExtractPipeline.extract(InterleavedGen.table(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("extract metrics cover all docs") {
    // the run ledger's metrics: per-bucket tallies of the write job
    val dir = java.nio.file.Files.createTempDirectory("graft_metrics").toString
    val m = CheckpointedExtract.run(InterleavedGen.table(spark, sf), dir, buckets = 4)
    assert(m.map(_.docs).sum == 500)
    assert(m.map(_.errors).sum == 0)
    assert(m.map(_.textSpans).sum > 500)
  }

  test("exact dedup finds exactly the planted duplicates") {
    val base = DedupOps.withVariants(spark, sf)
    val survivors = DedupOps.exactDedup(base).collect()
    // short docs (<17 words) produce identical variants -> n_copies == 2
    val dups = survivors.filter(_.getLong(2) > 1)
    assert(survivors.forall(r => r.getLong(2) <= 2))
    assert(survivors.map(_.getLong(2)).sum == 1000)
    assert(dups.forall(_.getLong(1) < 1000000L)) // keeper is the original
  }

  test("minhash LSH pairs == exact ngram pairs (full recall, no FPs)") {
    val base = DedupOps.withVariants(spark, sf).cache()
    val exact = DedupOps.ngramJaccardPairs(base, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = DedupOps.minhashLshPairs(base, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty)
    assert(lsh == exact)
    // planted variants present
    assert(exact.exists { case (a, b, _) => b == a + 1000000L })
    base.unpersist()
  }

  test("simhash: variants within small hamming distance of originals") {
    val pairs = DedupOps.simhashPairs(DedupOps.withVariants(spark, sf), 3).collect()
    assert(pairs.nonEmpty)
    val planted = pairs.count(r => r.getLong(1) == r.getLong(0) + 1000000L)
    assert(planted > 100) // most variants should sketch-match their original
  }

  test("d3 LSH: a giant band bucket is dropped (capped), true pairs elsewhere survive") {
    val sp = spark; import sp.implicits._
    // 1,000 identical docs share EVERY band key -> 32 buckets of 1,000
    // members each; uncapped candidate generation would expand 32 x
    // C(1000,2) ~ 16M join rows. With the cap they are dropped whole and
    // only the planted near-dup pair (its own buckets) survives.
    val giantText = Array.tabulate(40)(i => s"w$i").mkString(" ")
    val near = Array.tabulate(40)(i => s"v$i").mkString(" ")
    val nearVariant = Array.tabulate(40)(i => s"v$i").zipWithIndex
      .collect { case (w, i) if i % 17 != 16 => w }.mkString(" ")
    val base = ((0L until 1000L).map(id => (id, giantText)) ++
      Seq((5000L, near), (5001L, nearVariant))).toDF("doc_id", "text")
    DedupOps.clearMemos()
    val out = DedupOps.minhashLshPairs(base, 0.6, bucketCap = 100)
    val rows = out.collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((5000L, 5001L)),
      rows.mkString(","))
    // the dropped giant buckets are observable, not silent
    val metrics = out.queryExecution.observedMetrics
    assert(metrics("lsh_band_buckets").getLong(0) == 32L, metrics.toString)
    DedupOps.clearMemos()
  }

  test("d2b: pair output bounded by the member cap on a giant duplicate cluster") {
    val sp = spark; import sp.implicits._
    // 1,000 identical docs share every shingle bucket; exact d2 emits
    // C(1000,2) = 499,500 pairs — d2b must emit exactly C(cap,2) pairs,
    // all among the cap lowest ids, and surface the capping
    val giantText = Array.tabulate(40)(i => s"w$i").mkString(" ")
    val near = Array.tabulate(40)(i => s"v$i").mkString(" ")
    val nearVariant = Array.tabulate(40)(i => s"v$i").zipWithIndex
      .collect { case (w, i) if i % 17 != 16 => w }.mkString(" ")
    val base = ((0L until 1000L).map(id => (id, giantText)) ++
      Seq((5000L, near), (5001L, nearVariant))).toDF("doc_id", "text")
    DedupOps.clearMemos()
    val out = DedupOps.ngramJaccardPairsCapped(base, 0.6, memberCap = 16)
    val rows = out.collect()
    val clusterPairs = rows.filter(_.getLong(0) < 1000L)
    assert(clusterPairs.length == 16 * 15 / 2, s"got ${clusterPairs.length}")
    assert(clusterPairs.forall(r => r.getLong(0) < 16L && r.getLong(1) < 16L))
    assert(rows.exists(r => r.getLong(0) == 5000L && r.getLong(1) == 5001L))
    val metrics = out.queryExecution.observedMetrics("ngram_capped_buckets")
    assert(metrics.getAs[Long]("capped_shingle_buckets") > 0L, metrics.toString)
    assert(metrics.getAs[Long]("dropped_shingles_capped") == 0L, metrics.toString)
    // below the cap, d2b degenerates to exact d2 (cluster removed)
    DedupOps.clearMemos()
    val small = Seq((5000L, near), (5001L, nearVariant)).toDF("doc_id", "text")
    val exact = DedupOps.ngramJaccardPairs(small, 0.6).collect().toSet
    DedupOps.clearMemos()
    val capped = DedupOps.ngramJaccardPairsCapped(small, 0.6, memberCap = 16).collect().toSet
    assert(capped == exact)
    DedupOps.clearMemos()
  }

  test("d3 pairs memo: d6/d8/d9/d10/p1's shared pair list is computed once per session") {
    DedupOps.clearMemos()
    val p1 = DedupOps.minhashLshPairs(DedupOps.withVariants(spark, sf), 0.6)
    // a SECOND consumer building the same base plan gets the SAME persisted
    // instance — reference equality is the one-computation proof
    val p2 = DedupOps.minhashLshPairs(DedupOps.withVariants(spark, sf), 0.6)
    assert(p1 eq p2, "same (plan, threshold, cap) must return the memoized instance")
    assert(p1.storageLevel.useMemory || p1.storageLevel.useDisk,
      "memoized pairs must be persisted")
    val p3 = DedupOps.minhashLshPairs(DedupOps.withVariants(spark, sf), 0.7)
    assert(!(p1 eq p3), "a different threshold is a different pair list")
    // shingle invalidation cascades: the memo must not survive a clear
    DedupOps.clearMemos()
    assert(p1.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "clear must unpersist the evicted pair list")
    val p4 = DedupOps.minhashLshPairs(DedupOps.withVariants(spark, sf), 0.6)
    assert(!(p1 eq p4), "clear must drop the memo")
    DedupOps.clearMemos()
  }

  test("d14 incremental: variants match their originals, fresh docs clean, staged == in-memory") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions.{col, concat_ws, lit}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    // incoming batch: the planted variants plus fresh docs with vocabulary
    // the corpus has never seen (must come back is_dup = false)
    val fresh = (0L until 20L).map(i =>
      (9000000L + i, Array.tabulate(30)(j => s"fresh${i}w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val batch = DedupOps.variantBatch(docs).unionAll(fresh)
    val out = DedupOps.incrementalDupVerdict(docs, batch, 0.6)
    val rows = out.collect().map(r => (r.getLong(0),
      r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toList
    assert(rows.length == 520) // one verdict row per batch doc, exactly
    val freshRows = rows.filter(_._1 >= 9000000L)
    assert(freshRows.forall(!_._2), freshRows.take(3).toString)
    // non-dup rows carry null dup_of
    assert(rows.filter(!_._2).forall(_._3 == -1L))
    // the overwhelming majority of variants hit their own original (a
    // variant can in principle tie to a smaller-id near-identical corpus
    // doc, so not asserted universally)
    val matchedOwn = rows.count(r => r._2 && r._3 == r._1 - 1000000L)
    assert(matchedOwn > 400, s"only $matchedOwn variants matched their original")
    // staged corpus shingles (the production shape) are bit-identical
    val dir = java.nio.file.Files.createTempDirectory("graft_incr_stage").toString
    DedupOps.stageShingles(docs, dir, buckets = 4)
    val staged = DedupOps.incrementalDupVerdictStaged(spark, dir, batch, 0.6)
      .collect().map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSet
    val mem = out.collect().map(r => (r.getLong(0), r.getBoolean(1),
      if (r.isNullAt(2)) -1L else r.getLong(2),
      if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSet
    assert(staged == mem)
  }

  test("d14: boilerplate postings over the df cap are dropped whole and observable") {
    val sp = spark; import sp.implicits._
    // 50 corpus docs share a 6-token boilerplate tail -> 4 fully-shared
    // trigrams with corpus df 50. With dfCap 10 those postings drop, so
    // an exact copy of doc 0 keeps only its 4 unique-prefix trigrams:
    // inter 4, jaccard 4/12 < 0.6 -> NOT flagged (without the cap it
    // would be 1.0). A near-dup with unique vocabulary still flags.
    val boiler = "boiler plate common text here now"
    val corpus = ((0L until 50L).map(i => (i, s"a$i b$i c$i d$i $boiler")) ++
      Seq((60L, Array.tabulate(12)(j => s"v$j").mkString(" ")))).toDF("doc_id", "text")
    val batch = Seq(
      (1000L, s"a0 b0 c0 d0 $boiler"), // exact copy of doc 0
      (1060L, Array.tabulate(12)(j => s"v$j").drop(1).mkString(" "))
    ).toDF("doc_id", "text")
    DedupOps.clearMemos()
    val out = DedupOps.incrementalDupVerdict(corpus, batch, 0.6, dfCap = 10)
    val verdicts = out.collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toMap
    assert(verdicts(1000L) == ((false, -1L)), verdicts.toString)
    assert(verdicts(1060L) == ((true, 60L)), verdicts.toString)
    val metrics = out.queryExecution.observedMetrics("incr_corpus_postings")
    assert(metrics.getAs[Long]("dropped_corpus_shingles") == 4L, metrics.toString)
    DedupOps.clearMemos()
  }

  test("d5 simhash: a giant chunk bucket is dropped (capped), true pairs elsewhere survive") {
    val sp = spark; import sp.implicits._
    // identical texts -> identical sketches -> one giant bucket per
    // chunk-pair key (15 of them); the planted pair has a different text
    val giantText = Array.tabulate(30)(i => s"g$i").mkString(" ")
    val pairText = Array.tabulate(30)(i => s"p$i").mkString(" ")
    val base = ((0L until 1000L).map(id => (id, giantText)) ++
      Seq((5000L, pairText), (5001L, pairText))).toDF("doc_id", "text")
    val out = DedupOps.simhashPairs(base, 3, bucketCap = 100)
    val rows = out.collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet ==
      Set((5000L, 5001L, 0)), rows.mkString(","))
    val metrics = out.queryExecution.observedMetrics
    assert(metrics("simhash_chunk_buckets").getLong(0) == 15L, metrics.toString)
  }

  test("d5 chunk-pair pigeonhole: exact recall at hamming <= 3 vs all-pairs ground truth") {
    val sp = spark; import sp.implicits._
    // deterministic corpus with guaranteed close sketches: 10 base texts,
    // each with an exact copy (hamming 0) and a one-token-appended
    // variant (small but text-dependent hamming); ground truth is the
    // in-test all-pairs scan over the actual sketches
    val texts = (0 until 10).flatMap { i =>
      val t = Array.tabulate(25)(j => s"t${(i * 7 + j * 3) % 8}_$j").mkString(" ")
      Seq((i.toLong, t), (100L + i, t), (200L + i, t + s" extra$i"))
    }
    val base = texts.toDF("doc_id", "text")
    val sk = DedupOps.simhashSketch(base).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = (for {
      (ia, ha) <- sk; (ib, hb) <- sk if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d)).toSet
    val got = DedupOps.simhashPairs(base, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected)
  }

  test("shingle staging: ledger resume skips done buckets; staged d2/d3 match in-memory") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shingle_stage").toString
    val base = DedupOps.withVariants(spark, sf)
    val first = DedupOps.stageShingles(base, dir, buckets = 8, maxBucketsPerPass = 4)
    assert(first.map(_._1).toSet == (0 until 8).toSet)
    assert(first.map(_._2).sum == 1000L)
    // simulate a mid-run kill: ledger keeps header + the first pass's
    // first 3 bucket lines; the orphaned parquet of uncommitted buckets
    // is overwritten on resume (dynamic partition overwrite)
    val ledger = java.nio.file.Paths.get(dir, "_ledger.jsonl")
    val lines = java.nio.file.Files.readAllLines(ledger)
    val kept = lines.subList(0, 4)
    val keptBuckets = kept.toArray(Array.empty[String]).drop(1)
      .flatMap(l => """"bucket"\s*:\s*(\d+)""".r.findFirstMatchIn(l).map(_.group(1).toInt)).toSet
    java.nio.file.Files.write(ledger, kept)
    val resumed = DedupOps.stageShingles(base, dir, buckets = 8, maxBucketsPerPass = 4)
    assert(resumed.size == 5, s"resume recomputed ${resumed.map(_._1)}")
    assert(resumed.map(_._1).toSet.intersect(keptBuckets).isEmpty) // done buckets never re-shingled
    val staged = DedupOps.stagedShingles(spark, dir)
    assert(staged.count() == 1000L)
    assert(staged.select("doc_id").distinct().count() == 1000L) // no dup/loss
    // parity with the in-memory shingle view, end to end through d2 and d3
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val mem = pairs(DedupOps.ngramJaccardPairs(base, 0.6))
    assert(mem.nonEmpty)
    assert(pairs(DedupOps.ngramJaccardPairsStaged(spark, dir, 0.6)) == mem)
    assert(pairs(DedupOps.minhashLshPairsStaged(spark, dir, 0.6)) == mem)
    // fail fast on a mismatched bucketing or source
    intercept[IllegalArgumentException](DedupOps.stageShingles(base, dir, buckets = 16))
    intercept[IllegalArgumentException](DedupOps.stageShingles(base, dir, buckets = 8, sourceId = "other"))
  }

  test("posgram staging: ledger resume skips done buckets; staged d12/d13 match in-memory") {
    val dir = java.nio.file.Files.createTempDirectory("graft_posgram_stage").toString
    val base = spark.read.parquet(s"$sf/documents.parquet")
    val nDocs = base.count()
    val first = DedupOps.stageSpanGrams(base, dir, buckets = 8, maxBucketsPerPass = 4)
    assert(first.map(_._1).toSet == (0 until 8).toSet)
    assert(first.map(_._2).sum == nDocs)
    // simulate a mid-run kill: header + 3 committed bucket lines survive
    val ledger = java.nio.file.Paths.get(dir, "_ledger.jsonl")
    val lines = java.nio.file.Files.readAllLines(ledger)
    val kept = lines.subList(0, 4)
    val keptBuckets = kept.toArray(Array.empty[String]).drop(1)
      .flatMap(l => """"bucket"\s*:\s*(\d+)""".r.findFirstMatchIn(l).map(_.group(1).toInt)).toSet
    java.nio.file.Files.write(ledger, kept)
    val resumed = DedupOps.stageSpanGrams(base, dir, buckets = 8, maxBucketsPerPass = 4)
    assert(resumed.size == 5, s"resume recomputed ${resumed.map(_._1)}")
    assert(resumed.map(_._1).toSet.intersect(keptBuckets).isEmpty)
    // staged results are bit-identical to the in-memory paths
    def rows12(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    def rows13(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(rows12(DedupOps.spanDedupStaged(base, dir)) == rows12(DedupOps.spanDedup(base)))
    assert(rows13(DedupOps.spanDedupApplyStaged(base, dir)) == rows13(DedupOps.spanDedupApply(base)))
    // fail fast on mismatched bucketing / gram width / source
    intercept[IllegalArgumentException](DedupOps.stageSpanGrams(base, dir, buckets = 16))
    intercept[IllegalArgumentException](DedupOps.stageSpanGrams(base, dir, k = 7, buckets = 8))
    intercept[IllegalArgumentException](DedupOps.stageSpanGrams(base, dir, buckets = 8, sourceId = "other"))
    intercept[IllegalArgumentException](DedupOps.stagedSpanGrams(spark, dir, k = 7))
  }

  test("domain quota: two-phase top-k equals the window formulation exactly") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val got = TextOps.domainQuota(docs, 7).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    // brute-force expected: per source, the 7 smallest (hash, id) pairs
    val all = docs.select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = all.groupBy(_._2).toSeq.flatMap { case (src, xs) =>
      xs.toSeq.map { case (id, _) => (java.lang.Math.floorMod((id & 2147483647L) * 2654435761L, 1000000007L), id) }
        .sorted.take(7).zipWithIndex
        .map { case ((_, id), i) => (id, src, i + 1) }
    }.toSet
    assert(got == expected)
    assert(got.groupBy(_._2).forall(_._2.size <= 7))
  }

  test("mixture sample: per-source permille rates, absent sources take default, exact arithmetic") {
    val sp = spark; import sp.implicits._
    val df = (0L until 300L).map(i =>
      (i, i % 3 match { case 0 => "all"; case 1 => "none"; case _ => "other" }))
      .toDF("doc_id", "source")
    val out = TextOps.mixtureSample(df, Map("all" -> 1000, "none" -> 0), 500)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3), r.getBoolean(4)))
    assert(out.length == 300) // one verdict per doc, keep/drop is a column
    out.foreach { case (id, src, bucket, rate, kept) =>
      val expBucket = (id * TextOps.MixHashMultiplier % 1000L).toInt
      assert(bucket == expBucket)
      val expRate = src match { case "all" => 1000; case "none" => 0; case _ => 500 }
      assert(rate == expRate)
      assert(kept == (expBucket < expRate), s"doc $id")
    }
    assert(out.filter(_._2 == "all").forall(_._5))
    assert(out.filter(_._2 == "none").forall(!_._5))
    // the default-rate path samples a real fraction (not all, not none)
    val others = out.filter(_._2 == "other")
    assert(others.exists(_._5) && others.exists(!_._5))
    // decorrelated from the split hash: the two multipliers differ
    assert(TextOps.MixHashMultiplier != 2654435761L)
  }

  test("temperature mixture: sqrt-scaled rates from counts, smallest source keeps all") {
    val sp = spark; import sp.implicits._
    // counts 400 / 100 / 25 -> rates 1000*sqrt(25/400)=250,
    // 1000*sqrt(25/100)=500, 1000*sqrt(25/25)=1000
    val df = ((0L until 400L).map((_, "big")) ++
      (1000L until 1100L).map((_, "mid")) ++
      (2000L until 2025L).map((_, "small"))).toDF("doc_id", "source")
    val out = TextOps.temperatureMixture(df)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3), r.getBoolean(4)))
    assert(rows.length == 525) // one verdict per doc
    val rates = rows.map(t => t._2 -> (t._3, t._4)).toMap
    assert(rates("big") == ((400L, 250)) && rates("mid") == ((100L, 500)) &&
      rates("small") == ((25L, 1000)), rates.toString)
    rows.foreach { case (id, _, _, rate, kept) =>
      val bucket = java.lang.Math.floorMod((id & 2147483647L) * TextOps.TempHashMultiplier, 1000L)
      assert(kept == (bucket < rate), s"doc $id")
    }
    assert(rows.filter(_._2 == "small").forall(_._5)) // rate 1000 keeps every bucket
    val bigs = rows.filter(_._2 == "big")
    assert(bigs.exists(_._5) && bigs.exists(!_._5))
    // the corpus-side join is broadcast (the rates table is tiny by
    // construction); the data itself must not sort-merge
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"), plan)
    // a third decorrelated multiplier
    assert(TextOps.TempHashMultiplier != TextOps.MixHashMultiplier &&
      TextOps.TempHashMultiplier != 2654435761L)
  }

  test("url normalization: hand-derived cases for every rule") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions.col
    val cases = Seq(
      // default ports dropped, scheme+host lowered, fragment dropped
      ("HTTPS://Ex.COM:443/A/b#frag", "https://ex.com/A/b"),
      ("http://ex.com:80/", "http://ex.com/"),
      // non-default port kept; http:443 is NOT a default and stays
      ("https://ex.com:8080/x", "https://ex.com:8080/x"),
      ("http://ex.com:443/x", "http://ex.com:443/x"),
      // empty path -> '/', with and without a port
      ("https://ex.com", "https://ex.com/"),
      ("https://ex.com:9090?b=1", "https://ex.com:9090/?b=1"),
      // params sorted, utm_* dropped, '?' dropped when nothing survives
      ("https://ex.com/p?b=2&a=1", "https://ex.com/p?a=1&b=2"),
      ("https://ex.com/p?utm_source=x&utm_medium=y", "https://ex.com/p"),
      ("https://ex.com/p?zz=1&utm_a=2&aa=3#f", "https://ex.com/p?aa=3&zz=1"),
      // path case is PRESERVED (only scheme/host fold)
      ("HtTpS://A.B.C/Path/UPPER?x=Y", "https://a.b.c/Path/UPPER?x=Y"))
    val out = cases.toDF("url", "expected")
      .select(col("expected"), graft.spark.ops.TextOps.normalizeUrl(col("url")).as("got"))
      .collect()
    out.foreach(r => assert(r.getString(1) == r.getString(0),
      s"got ${r.getString(1)}, want ${r.getString(0)}"))
  }

  test("pii scrub: planted email/ip/phone redacted with exact counts") {
    val sp = spark; import sp.implicits._
    val df = Seq(
      (1L, "mail a.b+c@sub.example.org then 192.168.0.1 call 555-867-5309 end"),
      (2L, "no pii here at all"),
      (3L, "two mails x@y.io z@w.co and 10.0.0.7")).toDF("doc_id", "text")
    val out = TextOps.piiScrub(df).collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toSeq.sortBy(_._1)
    assert(out(0) == ((1L, 1, 1, 1, "mail <EMAIL> then <IP> call <PHONE> end")))
    assert(out(1) == ((2L, 0, 0, 0, "no pii here at all")))
    assert(out(2) == ((3L, 2, 1, 0, "two mails <EMAIL> <EMAIL> and <IP>")))
  }

  test("decontaminate: benchmark docs + embedded 13-gram copies flag; clean docs don't") {
    val sp = spark; import sp.implicits._
    val bmText = Array.tabulate(20)(i => s"b$i").mkString(" ")
    val benchmark = Seq((100L, bmText)).toDF("doc_id", "text")
    val thirteen = Array.tabulate(13)(i => s"b${i + 2}").mkString(" ") // a 13-window of bmText
    val corpus = Seq(
      (1L, bmText),                                             // exact benchmark copy
      (2L, s"prefix words here $thirteen and a tail"),          // embedded 13-gram
      (3L, Array.tabulate(30)(i => s"c$i").mkString(" ")),      // clean
      (4L, Array.tabulate(12)(i => s"b$i").mkString(" "))       // too short for any 13-gram
    ).toDF("doc_id", "text")
    val got = DedupOps.decontaminate(corpus, benchmark).collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(got == Map(1L -> true, 2L -> true, 3L -> false, 4L -> false))
  }

  test("span dedup: shared run recovered exactly; contiguous copies merge; clean doc zero") {
    val sp = spark; import sp.implicits._
    // S = a 20-token run shared by docs 1 and 2 at different offsets
    val s20 = Array.tabulate(20)(i => s"s$i")
    val docA = (Array.tabulate(10)(i => s"a$i") ++ s20 ++ Array.tabulate(10)(i => s"z$i")).mkString(" ")
    val docB = (Array.tabulate(5)(i => s"w$i") ++ s20 ++ Array.tabulate(7)(i => s"x$i")).mkString(" ")
    // doc 3: S twice back-to-back — straddling grams are unique, but the
    // two duplicated regions are contiguous and must merge into ONE span
    // covering all 40 tokens
    val docC = (s20 ++ s20).mkString(" ")
    val docD = Array.tabulate(40)(i => s"u$i").mkString(" ") // clean
    val df = Seq((1L, docA), (2L, docB), (3L, docC), (4L, docD)).toDF("doc_id", "text")
    val got = DedupOps.spanDedup(df).collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getInt(2)))).toMap
    // shared-run hand check (k=13): in docA the duplicated grams are the 8
    // fully-inside positions 11..18 -> one merged span [11, 31) = exactly
    // the 20 shared tokens; same for docB at its offset
    assert(got(1L) == ((1, 20)), s"docA: ${got(1L)}")
    assert(got(2L) == ((1, 20)), s"docB: ${got(2L)}")
    assert(got(3L) == ((1, 40)), s"docC: ${got(3L)}")
    assert(got(4L) == ((0, 0)), s"docD: ${got(4L)}")
  }

  test("span apply: later copies excised, globally-first occurrence kept, clean doc untouched") {
    val sp = spark; import sp.implicits._
    val s16 = Array.tabulate(16)(i => s"s$i")
    val docA = s16.mkString(" ")                                            // first occurrence: intact
    val docB = (Array("x", "y") ++ s16 ++ Array("q", "r")).mkString(" ")    // later copy: excised
    val docC = Array.tabulate(20)(i => s"u$i").mkString(" ")                // clean: untouched
    val df = Seq((1L, docA), (2L, docB), (3L, docC)).toDF("doc_id", "text")
    val got = DedupOps.spanDedupApply(df).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getInt(2)))).toMap
    assert(got(1L) == ((docA, 0)), s"docA: ${got(1L)}")
    assert(got(2L) == (("x y q r", 16)), s"docB: ${got(2L)}")
    assert(got(3L) == ((docC, 0)), s"docC: ${got(3L)}")
  }

  test("chunkDocuments: sliding windows with exact overlap, short docs one chunk") {
    val sp = spark; import sp.implicits._
    val t300 = Array.tabulate(300)(i => s"w$i")
    val df = Seq(
      (1L, t300.mkString(" ")),
      (2L, Array.tabulate(128)(i => s"a$i").mkString(" ")), // exactly max -> 1 chunk
      (3L, Array.tabulate(129)(i => s"b$i").mkString(" ")), // one over -> 2 chunks
      (4L, "")                                              // empty -> 1 chunk of [""]
    ).toDF("doc_id", "text")
    val got = TextOps.chunkDocuments(df, maxTokens = 128, overlap = 16).collect()
      .map(r => ((r.getLong(0), r.getInt(1)), (r.getString(2), r.getInt(3)))).toMap
    // 300 tokens, step 112: chunks [0,128), [112,240), [224,300)
    assert(got((1L, 0)) == ((t300.slice(0, 128).mkString(" "), 128)))
    assert(got((1L, 1)) == ((t300.slice(112, 240).mkString(" "), 128)))
    assert(got((1L, 2)) == ((t300.slice(224, 300).mkString(" "), 76)))
    assert(!got.contains((1L, 3)))
    // consecutive chunks share exactly `overlap` tokens
    assert(t300.slice(112, 128).mkString(" ") ==
      got((1L, 0))._1.split(" ").takeRight(16).mkString(" "))
    assert(got((2L, 0))._2 == 128 && !got.contains((2L, 1)))
    assert(got((3L, 0))._2 == 128 && got((3L, 1)) == (("b112 b113 b114 b115 b116 b117 b118 b119 b120 b121 b122 b123 b124 b125 b126 b127 b128", 17)))
    assert(got((4L, 0)) == (("", 1)))
  }

  test("packSequences equals the global prefix-sum, even under coalesce(1)") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // ground truth: sequential scan in doc_id order
    val toks = docs.select(col("doc_id"), TextOps.tokenCountWs(col("text")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var c = 0L
    val expected = toks.map { case (id, n) =>
      val off = c; c += n; (id, n, off, off / 256L)
    }.toSet
    val out = TextOps.packSequences(docs, 256)
    assert(out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet == expected)
    // a downstream coalesce(1) merges source partitions into ONE task —
    // the regression that bit the Verify writer: partition identity must
    // come from the data, not TaskContext
    assert(out.coalesce(1).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet == expected)
  }

  test("ann topk: recall vs brute force >= 0.7 on sf0.001") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val bf = SimOps.bruteForceTopK(emb, 0L to 9L, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = SimOps.annTopK(emb, 0L to 9L, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf intersect ann).size.toDouble / bf.size
    assert(recall >= 0.7, s"recall $recall")
  }

  test("png codec: every pixel of a real ImageIO roundtrip matches the formula") {
    val bytes = MultimodalOps.encodePng(5L, 3)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img.getWidth == 32 + (5 % 7) * 16 && img.getHeight == 24 + (3 % 5) * 12)
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
      assert((img.getRGB(x, y) & 0xffffff) == MultimodalOps.pngPixel(5L, 3, x, y),
        s"pixel ($x,$y)")
    // PNG magic: these are genuinely encoded files, not a fake container
    assert((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G')
  }

  test("vocab top-k: counts, deterministic tie-break rank, partial-agg plan") {
    val sp = spark; import sp.implicits._
    val df = Seq((1L, "a b b c  c c"), (2L, "c d d"), (3L, "")).toDF("doc_id", "text")
    val out = TextOps.vocabTopK(df, 3)
    val rows = out.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toList
      .sortBy(_._3)
    // c:4, d:2, b:2 — ties broken token-asc (b before d)
    assert(rows == List(("c", 4L, 1), ("b", 2L, 2), ("d", 2L, 3)), rows.toString)
    // map-side partial aggregation: two HashAggregate stages around the
    // exchange, so the shuffle carries (partition, token) partials, not
    // one row per token occurrence
    val plan = out.queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("bloom decontamination: exact==bloom verdicts, structural no-false-neg, literal probe") {
    val sp = spark; import sp.implicits._
    val evalText = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima mike november"
    val docs = Seq(
      (1L, "contaminated doc shares " + evalText + " plus trailing words here"),
      (2L, "totally clean document with enough words one two three four five six seven eight nine ten"),
      (3L, "short doc")) ++ (4 to 40).map(i =>
      (i.toLong, s"filler doc $i with its own unique run of words w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f w${i}g w${i}h w${i}i w${i}j w${i}k"))
    val corpus = docs.toDF("doc_id", "text")
    val benchmark = Seq((100L, evalText)).toDF("doc_id", "text")
    val out = DedupOps.decontaminateBloom(corpus, benchmark)
    val rows = out.collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(rows(1L) == ((true, true, true)), rows(1L).toString)
    assert(rows(2L) == ((false, false, true)))
    assert(rows(3L) == ((false, false, true))) // < n tokens: zero grams
    assert(rows.size == docs.size && rows.valuesIterator.forall(_._3))
    assert(rows.valuesIterator.forall(v => v._1 == v._2), "bloom false positive at spec scale")
    // partition invariance: bloom bits OR under merge
    val rows2 = DedupOps.decontaminateBloom(corpus.repartition(7), benchmark.repartition(3))
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
    assert(rows2 == rows.map { case (k, v) => k -> ((v._1, v._2)) })
    // the probe is a codegen'd literal expression in the corpus scan, not a join
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), "corpus side must not shuffle-join the eval set")
  }

  test("bottom-k sample: exact k, brute-force equal, nested, stable, TakeOrdered plan") {
    val sp = spark; import sp.implicits._
    import graft.spark.ops.TextOps
    val docs = (1L to 300L).map(i => (i, s"src${i % 5}", s"text $i"))
      .toDF("doc_id", "source", "text")
    val s50 = TextOps.bottomKSample(docs, 50).collect()
    assert(s50.length == 50)
    // equals the brute-force total order (okey asc, doc_id asc)
    val expect = (1L to 300L)
      .map(i => i -> ((i & 2147483647L) * 2971215073L % 1000000007L))
      .sortBy { case (id, key) => (key, id) }.take(50).map(_._1)
    assert(s50.map(_.getLong(0)).toSeq.sorted == expect.sorted)
    // nested by construction: bottom-50 is a subset of bottom-60
    val s60 = TextOps.bottomKSample(docs, 60).collect().map(_.getLong(0)).toSet
    assert(s50.map(_.getLong(0)).forall(s60.contains))
    // repartition-stable
    val re = TextOps.bottomKSample(docs.repartition(13), 50)
      .collect().map(_.getLong(0)).toSet
    assert(re == s50.map(_.getLong(0)).toSet)
    // the scale shape: per-partition bounded heaps, no global sort
    val plan = TextOps.bottomKSample(docs, 50).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("winsorize: exact integer-rank p95, ties by doc_id, broadcast apply") {
    val sp = spark; import sp.implicits._
    import graft.spark.ops.TextOps
    // srcA: 20 docs, lengths 10..200 step 10 → rank ceil(20*.95)=19 → p95=190
    // srcB: ties — five docs all length 7 → rank ceil(5*.95)=5 → p95=7
    // srcC: singleton → rank 1 → p95 = its own length
    val rows =
      (1L to 20L).map(i => (i, "srcA", i * 10)) ++
        (21L to 25L).map(i => (i, "srcB", 7L)) ++
        Seq((26L, "srcC", 123L))
    val docs = rows.toDF("doc_id", "source", "n_chars")
    val out = TextOps.winsorizeLengths(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(3), r.getLong(4), r.getInt(5)))).toMap
    assert(out.size == 26)
    // srcA: p95=190; doc 20 (len 200) is the only outlier, clipped to 190
    assert(out(20L) == ((190L, 190L, 1)))
    assert(out(19L) == ((190L, 190L, 0)))
    assert(out(1L) == ((190L, 10L, 0)))
    // srcB: all equal → p95=7, nothing clipped
    (21L to 25L).foreach(i => assert(out(i) == ((7L, 7L, 0))))
    // srcC singleton: p95 = own length
    assert(out(26L) == ((123L, 123L, 0)))
    // the apply must broadcast the per-source stats, never shuffle the corpus
    val plan = TextOps.winsorizeLengths(docs).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"), "stats join must broadcast")
  }

  test("gopher repetition: hand-computed n-gram shares, lex-smallest ties, map-only") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (1L, "a b a b a b"),                    // "a b"x3, 3-gram tie -> lex smallest
      (2L, (1 to 30).map(i => f"tok$i%02d").mkString(" ")), // all-unique, long enough to keep
      (3L, "solo"),                            // no grams at all
      (4L, "w w w w w w w w")                  // degenerate run: share > 1, dup5 high
    ).toDF("doc_id", "text")
    val out = graft.spark.ops.TextOps.gopherRepetition(docs)
    val m = out.collect().map(r => r.getLong(0) -> r).toMap
    // doc 1: len=11; top2 ("a b",3) share 9/11; 3-grams "a b a"x2 == "b a b"x2
    // tie -> lex smallest; 5-grams both unique
    assert(m(1L).getString(1) == "a b" && m(1L).getInt(2) == 3)
    assert(m(1L).getDouble(3) == 9.0 / 11)
    assert(m(1L).getString(4) == "a b a" && m(1L).getInt(5) == 2)
    assert(m(1L).getDouble(6) == 10.0 / 11)
    assert(m(1L).getDouble(7) == 0.0 && !m(1L).getBoolean(8))
    // doc 2: every gram count 1, all signals under threshold
    assert(m(2L).getInt(2) == 1 && m(2L).getInt(5) == 1)
    assert(m(2L).getDouble(7) == 0.0 && m(2L).getBoolean(8))
    // doc 3: single token -> empty grams, zero shares, kept
    assert(m(3L).getString(1) == "" && m(3L).getInt(2) == 0 &&
      m(3L).getDouble(3) == 0.0 && m(3L).getDouble(7) == 0.0 && m(3L).getBoolean(8))
    // doc 4: len=15; overlapping occurrences all count -> share 7*3/15 > 1;
    // 5-grams: 4 occurrences, 1 distinct
    assert(m(4L).getString(1) == "w w" && m(4L).getDouble(3) == 21.0 / 15)
    assert(m(4L).getDouble(6) == 30.0 / 15)
    assert(m(4L).getDouble(7) == 3.0 / 4 && !m(4L).getBoolean(8))
    // row-local: nothing leaves the row -> no exchange in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1500))
  }

  test("cms frequency: sketch never undercounts, gated verdicts, partition-invariant") {
    val sp = spark; import sp.implicits._
    // skewed corpus: "alpha" dominates, long tail of unique tokens
    val docs = (0 until 400).map { i =>
      val tail = s"tok$i uniq${i}x w${i % 7}"
      (i.toLong, if (i % 2 == 0) s"alpha alpha beta $tail" else s"alpha gamma $tail")
    }
    val df = docs.toDF("doc_id", "text")
    val out = TextOps.cmsFrequency(df, k = 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
      .sortBy(_._3).toList
    assert(out.map(t => (t._1, t._2, t._3)) ==
      List(("alpha", 600L, 1), ("beta", 200L, 2), ("gamma", 200L, 3),
        ("w0", 58L, 4), ("w1", 57L, 5)), out.toString)
    assert(out.forall(_._4), s"cms verdict failed: $out")
    // merge-order determinism: CMS cells SUM, so a different input
    // partitioning must yield byte-identical verdict rows
    val out2 = TextOps.cmsFrequency(df.repartition(13), k = 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
      .sortBy(_._3).toList
    assert(out2 == out)
  }

  test("banned phrases: sorted substring matches, clean docs kept, map-only plan") {
    val sp = spark; import sp.implicits._
    val df = Seq(
      (1L, "the big query ran on a data column today"),
      (2L, "nothing objectionable here"),
      (3L, "so slow fast and slow fast again")).toDF("doc_id", "text")
    val out = TextOps.bannedPhrases(df, Seq("slow fast", "big query", "data column"))
    val rows = out.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getBoolean(3)))).toMap
    assert(rows(1L) == (("big query|data column", 2, false))) // sorted order
    assert(rows(2L) == (("", 0, true)))
    assert(rows(3L) == (("slow fast", 1, false))) // repeated phrase counted once
    // map-only: no shuffle in the plan
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("c4 line filter: every rule bites, doc verdict, map-only plan") {
    val sp = spark; import sp.implicits._
    val df = Seq(
      // 3 good lines + a javascript line + a short line + a no-punct line
      (1L, "alpha beta gamma delta epsilon.\nthis one also has five words!\n" +
        "a third keeper line ends here.\nenable javascript to view now.\n" +
        "short line\nno terminal punctuation on this long line"),
      // only 2 keepers -> doc dropped by minKeptLines
      (2L, "alpha beta gamma delta epsilon.\nthis one also has five words!"),
      // lorem ipsum kills the doc even with 3 keepers
      (3L, "alpha beta gamma delta epsilon.\nthis one also has five words!\n" +
        "a third keeper line ends here.\nlorem ipsum dolor sit amet."),
      // curly brace kills the doc
      (4L, "alpha beta gamma delta epsilon.\nthis one also has five words!\n" +
        "a third keeper line ends here.\nvar config = { mode: 1 };"),
      // quote counts as terminal punctuation
      (5L, "he said \"five words are here\"\nanother keeper sentence sits here.\n" +
        "a third keeper line ends here.")).toDF("doc_id", "text")
    val out = graft.spark.ops.TextOps.c4LineFilter(df)
    val m = out.collect().map(r =>
      r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3), r.getBoolean(4)))).toMap
    assert(m(1L) == ((6, 3, "alpha beta gamma delta epsilon.\nthis one also has five words!\n" +
      "a third keeper line ends here.", true)))
    assert(m(2L) == ((2, 2, "alpha beta gamma delta epsilon.\nthis one also has five words!", false)))
    // the lorem line itself passes the LINE rules (5 words, '.') but the doc dies
    assert(m(3L)._2 == 4 && !m(3L)._4)
    // the brace line fails the line rules (';' is not terminal punct) AND kills the doc
    assert(m(4L)._2 == 3 && !m(4L)._4)
    assert(m(5L) == ((3, 3, "he said \"five words are here\"\nanother keeper sentence sits here.\n" +
      "a third keeper line ends here.", true)))
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("r12 pivot: literal value list, zero-filled cells, one aggregate exchange") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions.{col, lit, coalesce}
    val docs = Seq(
      (1L, "en", "s0"), (2L, "en", "s0"), (3L, "de", "s0"),
      (4L, "zh", "s1")).toDF("doc_id", "lang", "source")
    val langs = Seq("de", "en", "es", "fr", "zh")
    val p = docs.groupBy(col("source")).pivot("lang", langs).count()
    val out = p.select(col("source") +:
        langs.map(l => coalesce(col(l), lit(0L)).as(s"n_$l")): _*)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out("s0") == ((1L, 2L, 0L, 0L, 0L)))
    assert(out("s1") == ((0L, 0L, 0L, 0L, 1L)))
    // fixed pivot values => exactly one shuffle (partial+final agg), no
    // extra distinct-values job in the plan
    val plan = p.queryExecution.executedPlan.toString
    assert(plan.sliding("Exchange".length).count(_ == "Exchange") >= 1)
  }

  test("x16 rebase: scheme/fragment raw passthrough, rooted/relative/protocol-relative resolve") {
    val out = HtmlClean.rebaseLinks(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    val id = out.keys.head
    assert(out(id) ==
      s"""<html><body><a href="https://example.org/p/$id">r</a>""" +
        s"""<a href="https://example.org/dir/img/$id?q=1">s</a>""" +
        s"""<a href="https://other.example/abs/$id">t</a>""" +
        s"""<a href="#sec-$id">u</a>""" +
        s"""<a href="https://cdn.example/lib.js">v</a>""" +
        s"""<img src="https://example.org/dir/img/$id.png"></body></html>""")
  }

  test("x17 head meta: prefix operator fires only for og:*, missing tags yield null") {
    val out = HtmlClean.headMeta(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2), r.getString(3),
        r.getString(4), r.getBoolean(5)))).toMap
    val id9 = out.keys.map(_.toLong).filter(_ % 9 == 0).head.toString
    val idN = out.keys.map(_.toLong).filter(_ % 9 != 0).head.toString
    assert(out(id9) == ((s"https://example.org/c/$id9", s"Doc $id9", "article",
      "noindex,nofollow", false)))
    assert(out(idN) == ((s"https://example.org/c/$idN", s"Doc $idN", "article",
      "index,follow", true)))
    // engine-level corner: a doc with NO canonical / NO og metas and a
    // meta whose property does not start with "og:" — nothing may fire
    var canonical: String = null
    var og = 0
    val rw = new graft.rewrite.Rewriter(Seq(
      "link[rel=\"canonical\"]" -> graft.rewrite.ElementHandlers(
        element = el => canonical = el.attr("href")),
      "meta[property^=\"og:\"]" -> graft.rewrite.ElementHandlers(
        element = _ => og += 1)), strict = false, produceOutput = false)
    rw.rewriteToBytes(
      """<html><head><meta property="vid:og" content="x"><meta property="o" content="y"></head></html>"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(canonical == null && og == 0)
  }

  test("d16 minhash gate: estimator in band for every pair, broadcast join-back") {
    val sp = spark; import sp.implicits._
    val base = DedupOps.withVariants(sp, sf)
    val out = DedupOps.minhashEstimateGate(base, 0.6)
    val rows = out.collect()
    val d3n = DedupOps.minhashLshPairs(base, 0.6).count()
    assert(rows.length.toLong == d3n && rows.nonEmpty)
    assert(rows.forall(_.getBoolean(3)),
      rows.filterNot(_.getBoolean(3)).take(5).mkString(","))
    // identical docs: signatures coincide slot-for-slot -> est exactly 1
    val ident = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val one = DedupOps.minhashEstimateGate(ident, 0.6).collect()
    assert(one.length == 1 && one.head.getDouble(2) == 1.0 && one.head.getBoolean(3))
    // the corpus-side joins must broadcast the (small) pair list
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(600))
    assert(!plan.contains("SortMergeJoin"), "pair join-back must broadcast")
  }

  test("t24 gopher dup lines: sorted-run fold equals hand counts, map-only") {
    val sp = spark; import sp.implicits._
    val df = Seq(
      (1L, "a\nb\nc"),                 // no dups
      (2L, "xx\nxx\nyy"),              // one run of 2: 2 dup lines, 4 of 6 chars
      (3L, "aaaa\nb\naaaa\nb\nc"),     // two runs: 4 dup lines, 10 of 11 chars
      (4L, "solo"),                     // single line
      (5L, "")).toDF("doc_id", "text") // empty text -> one empty line
    val out = graft.spark.ops.TextOps.gopherDupLines(df)
    val m = out.collect().map(r => r.getLong(0) ->
      ((r.getInt(1), r.getInt(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5)))).toMap
    assert(m(1L) == ((3, 0, 0.0, 0.0, true)))
    assert(m(2L) == ((3, 2, 0.6667, 0.6667, false)))
    assert(m(3L) == ((5, 4, 0.8, 0.9091, false)))
    assert(m(4L) == ((1, 0, 0.0, 0.0, true)))
    assert(m(5L) == ((1, 0, 0.0, 0.0, true)))
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("m13 wav downsample: full re-encode roundtrip matches the sample formula") {
    val sp = spark; import sp.implicits._
    // n = 64 + id%100: id=1 -> 65 (odd, last output probes input 64),
    // id=2 -> 66 (even, probes 64 too), id=37 -> 101 (odd, probes 100)
    val ids = Seq(1L, 2L, 37L, 150L)
    val df = ids.map(id => (id, MultimodalOps.encodeWav(id))).toDF("vec_id", "wav")
    val rows = MultimodalOps.wavDownsample(df).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))))
      .toMap
    for (id <- ids) {
      val n = 64 + (id % 100).toInt
      val nOut = (n + 1) / 2
      val expected = ((n, nOut, 8000,
        MultimodalOps.wavSample(id, 0), MultimodalOps.wavSample(id, 2 * (nOut - 1))))
      assert(rows(id) == expected, s"id=$id got ${rows(id)} want $expected")
    }
  }

  test("t25 gopher quality battery: each pollution trips its rule, hand counts") {
    val sp = spark; import sp.implicits._
    val df = Seq(
      // clean: 16 words incl two 'the', all alpha, mean in band
      (8L, "the quick brown fox jumps over the lazy dog near some tall green trees every day"),
      (3L, "one two three # # #"),                 // 3/6 symbol words
      (2L, "- a list\n- of items\nplain line"),    // 2/3 bullets (passes 0.9)
      (1L, "read on...\nmore soon...\nthe end...") // 3/3 ellipsis ends
    ).toDF("doc_id", "text")
    val m = graft.spark.ops.TextOps.gopherQualityRules(df, minWords = 3, maxWords = 90)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6), r.getInt(7), r.getBoolean(8)))).toMap
    assert(m(8L) == ((16, 4.0625, 0.0, 0.0, 0.0, 1.0, 2, true)))
    assert(m(3L)._3 == 0.5 && !m(3L)._8)            // sym_frac trips
    assert(m(2L)._4 == 0.6667 && m(2L)._7 == 1)     // bullets under 0.9; 'of' is the one stopword
    assert(m(1L)._5 == 1.0 && !m(1L)._8)            // ellipsis trips
    val plan = graft.spark.ops.TextOps.gopherQualityRules(df)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "t25 must be map-only")
  }

  test("x18 table extract: 3 rows per doc, template cells, decoys contribute nothing") {
    val out = graft.spark.HtmlClean.tableExtract(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.size == 3 * nDocs, s"want 3 rows/doc, got ${out.size} for $nDocs docs")
    // even ids close every cell/row explicitly; odd ids omit ALL
    // </th>/</td>/</tr> (the real-world sloppy form) — identical rows
    for (id <- Seq(0L, 7L, 123L, 42L)) {
      assert(out((id.toString, 0)) == "key|value")
      assert(out((id.toString, 1)) == s"name|doc $id")
      assert(out((id.toString, 2)) == s"score|${id * 7 % 100}")
    }
  }

  test("x19 markdown: markers interleave with body text in document order") {
    val out = graft.spark.HtmlClean.markdownConvert(spark, sf).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    for (id <- Seq(0L, 7L, 123L)) {
      val expected =
        s"# Title $id\n\nintro with **bold $id** and *italic* words.\n\n" +
          s"## Items\n\n- alpha $id\n- beta ${id % 10}\n\n" +
          s"see [doc $id](https://ex.org/d/$id) end.\n\n"
      assert(out(id.toString) == expected,
        s"id=$id got:\n${out(id.toString)}\nwant:\n$expected")
    }
  }

  test("streaming quality funnel: the p5 projection runs unchanged on a stream") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import graft.spark.ops.TextOps
    val dir = java.nio.file.Files.createTempDirectory("sfunnel").toString
    val inDir = s"$dir/in"; val outDir = s"$dir/out"; val ckDir = s"$dir/ck"
    val docs = Seq(
      (1L, "good line with plenty of words here.\nsecond decent line with the words.\nthird line keeps the doc over the floor."),
      (2L, "dup line is here too.\ndup line is here too.\ndup line is here too.\nthe rest with words stays fine."),
      (3L, "short\nno punct line here")
    ).toDF("doc_id", "text")
    docs.write.parquet(inDir)
    // the funnel is a stateless projection, so the SAME code runs in a
    // streaming query with no watermark/state plumbing — that is the
    // point of keeping the signals column-level
    def funnel(df: DataFrame): DataFrame = {
      val c4 = TextOps.c4Signals(col("text"))
      val step = df.select(col("doc_id"),
        c4.getField("clean_text").as("clean_text"),
        c4.getField("kept").as("kept_c4"))
      val gq = TextOps.gopherQualitySignals(col("clean_text"), minWords = 3)
      val dl = TextOps.dupLineSignals(col("clean_text"))
      step.select(col("doc_id"),
        (col("kept_c4") && gq.getField("kept") && dl.getField("kept")).as("kept"))
    }
    val q = funnel(sp.readStream.schema("doc_id LONG, text STRING").parquet(inDir))
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = sp.read.parquet(outDir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val batch = funnel(docs).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed(1L) && !streamed(2L) && !streamed(3L))
  }

  test("d17 shingle skew audit: hand-counted df distribution and pair work") {
    val sp = spark; import sp.implicits._
    // distinct 3-gram shingles: doc1/doc3 -> {a b c, b c d}, doc2 ->
    // {a b c}, doc4 (<3 words) -> none. df: "a b c"=3, "b c d"=2
    val df = Seq((1L, "a b c d"), (2L, "a b c"), (3L, "a b c d"), (4L, "x y"))
      .toDF("doc_id", "text")
    val r = graft.spark.ops.DedupOps.shingleSkewAudit(df, dfCap = 2).collect()(0)
    // cap 2: the df-3 shingle is capped out; the df-2 one contributes
    // C(2,2)=1 candidate pair
    assert((r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == ((2L, 3, 0L, 1L, 1L, 1L)), r.toString)
  }

  test("d18 pair evidence: broadcast joins only, counts equal exact intersections") {
    val df = graft.spark.ops.DedupOps.pairEvidence(
      graft.spark.ops.DedupOps.withVariants(spark, sf), 0.6)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), "pair joins must broadcast")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // every variant pair shares most shingles; spot-check one exactly
    val r = rows.minBy(_.getLong(0))
    val sh = graft.spark.ops.DedupOps.shingleSet _
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    val textA = docs(r.getLong(0))
    val textB = docs.get(r.getLong(1) - 1000000L)
      .map(t => t.split(" ").zipWithIndex.filter(p => (p._2 + 1) % 17 != 0).map(_._1).mkString(" "))
      .getOrElse(docs(r.getLong(1)))
    val common = sh(textA).toSet.intersect(sh(textB).toSet)
    assert(r.getInt(2) == common.size && r.getString(3) == common.min, r.toString)
  }

  test("t27 sentence stats: hand counts, map-only") {
    val sp = spark; import sp.implicits._
    // "ab cd. ef! gh" -> ["ab cd", "ef", "gh"]: lens 5/2/2, mean 3.0
    val out = graft.spark.ops.TextOps.sentenceStats(
      Seq((1L, "ab cd. ef! gh"), (2L, "no terminals here")).toDF("doc_id", "text"))
    val m = out.collect().map(r =>
      r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getInt(3)))).toMap
    assert(m(1L) == ((3, 3.0, 5)))
    assert(m(2L) == ((1, 17.0, 17)))
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("p5 quality funnel: one map-only projection, all three stages bite") {
    val df = graft.SparkEntry.queries("p5_quality_funnel")(spark, sf)
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"),
      "three composed stages must not add a shuffle")
    val rows = df.collect()
    // columns: doc_id n_kept n_words dup_line_frac kept_c4 kept_gq kept_dl kept
    assert(rows.exists(r => !r.getBoolean(4)), "c4 stage (lorem %11) must bite")
    assert(rows.exists(r => !r.getBoolean(5)), "gopher battery (>90 words) must bite")
    assert(rows.exists(r => !r.getBoolean(6)), "dup-lines (%4>=2) must bite")
    assert(rows.exists(r => r.getBoolean(7)), "some documents must survive the funnel")
    // %4 in {2,3} plants 2-3 copies of the boilerplate line -> dup drop
    rows.filter(r => r.getLong(0) % 4 >= 2).foreach(r =>
      assert(!r.getBoolean(6), s"doc ${r.getLong(0)} should fail dup-lines"))
  }

  test("x20 json-ld: typed script captured raw, untyped decoy contributes nothing") {
    val out = graft.spark.HtmlClean.jsonLdExtract(spark, sf).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val langs = spark.read.parquet(s"$sf/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id").cast("string"),
        org.apache.spark.sql.functions.col("lang"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    for (id <- Seq("0", "7", "123")) {
      val expected =
        s"""{"@type":"Article","id":$id,"lang":"${langs(id)}","name":"doc $id"}"""
      assert(out(id) == expected, s"id=$id got ${out(id)}")
      assert(!out(id).contains("decoy"))
    }
  }

  test("m16 wav features: decoded-PCM stats equal the formula recomputation") {
    val sp = spark; import sp.implicits._
    val ids = Seq(1L, 2L, 37L, 150L)
    val df = ids.map(id => (id, MultimodalOps.encodeWav(id))).toDF("vec_id", "wav")
    val rows = MultimodalOps.wavFeatures(df).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4)))).toMap
    for (id <- ids) {
      val n = 64 + (id % 100).toInt
      val s = Array.tabulate(n)(i => MultimodalOps.wavSample(id, i))
      val zc = (1 until n).count(i => s(i - 1).toLong * s(i) < 0L)
      val energy = s.map(v => math.abs(v.toLong)).sum
      val peak = s.map(math.abs).max
      assert(rows(id) == ((n, zc, energy, peak)), s"id=$id got ${rows(id)}")
    }
  }

  test("m14 gif header probe: byte peeks equal a real decode, projection-only plan") {
    val sp = spark; import sp.implicits._
    val df = Seq((5L, 3), (6L, 0), (13L, 4)).map { case (id, label) =>
      (id, MultimodalOps.encodeGif(id, label))
    }.toDF("vec_id", "gif")
    val rows = MultimodalOps.gifHeaderProbe(df).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getInt(2), r.getInt(3), r.getInt(4))))
      .toMap
    for ((id, label) <- Seq((5L, 3), (6L, 0), (13L, 4))) {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(MultimodalOps.encodeGif(id, label)))
      assert(rows(id) == ((true, img.getWidth, img.getHeight, 256)), rows(id).toString)
    }
    val bad = Seq((99L, "definitely not a gif payload".getBytes("UTF-8")))
      .toDF("vec_id", "gif")
    assert(!MultimodalOps.gifHeaderProbe(bad).collect()(0).getBoolean(1))
    val plan = MultimodalOps.gifHeaderProbe(df).queryExecution.executedPlan.toString
    assert(!plan.contains("SerializeFromObject") && !plan.contains("MapPartitions"), plan)
  }

  test("m15 media sniff: mixed blobs route to the right probe, projection-only") {
    val sp = spark; import sp.implicits._
    // one of each container + an unknown payload
    val df = Seq(
      (4L, MultimodalOps.encodePng(4L, 2)),
      (5L, MultimodalOps.encodeJpeg(5L, 1)),
      (6L, MultimodalOps.encodeGif(6L, 3)),
      (7L, MultimodalOps.encodeWav(7L)),
      (99L, "not any known container format".getBytes("UTF-8"))
    ).toDF("vec_id", "blob")
    val m = MultimodalOps.mediaSniff(df).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(m(4L) == (("png", 32 + (4 % 7) * 16, 24 + (2 % 5) * 12)))
    assert(m(5L) == (("jpeg", 32 + (5 % 7) * 16, 24 + (1 % 5) * 12)))
    assert(m(6L) == (("gif", 16 + (6 % 5) * 8, 12 + (3 % 4) * 6)))
    assert(m(7L) == (("wav", 16000, 64 + 7 % 100)))
    assert(m(99L) == (("unknown", -1, -1)))
    val plan = MultimodalOps.mediaSniff(df).queryExecution.executedPlan.toString
    assert(!plan.contains("SerializeFromObject") && !plan.contains("MapPartitions"), plan)
  }

  test("m15 media sniff fuzz: arbitrary payloads classify or fall to unknown, never fail") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(20260818L)
    val payloads = (0 until 60).map { i =>
      val len = 1 + rnd.nextInt(200)
      val b = new Array[Byte](len); rnd.nextBytes(b)
      // a third get a real magic prefix grafted onto garbage
      if (i % 3 == 0 && len >= 12) {
        val magic = (i % 4) match {
          case 0 => Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
          case 1 => Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte)
          case 2 => "GIF89a".getBytes("ASCII")
          case _ => "RIFFxxxxWAVE".getBytes("ASCII")
        }
        System.arraycopy(magic, 0, b, 0, math.min(magic.length, len))
      }
      (i.toLong, b)
    }
    val rows = MultimodalOps.mediaSniff(payloads.toDF("vec_id", "blob")).collect()
    assert(rows.length == 60)
    rows.foreach { r =>
      assert(Set("png", "jpeg", "gif", "wav", "unknown").contains(r.getString(1)))
      // dims are either parsed numbers or the -1/null-chain fallbacks
      assert(r.isNullAt(2) || r.getInt(2) >= -1)
      assert(r.isNullAt(3) || r.getInt(3) >= -1)
    }
  }

  test("png header probe: byte-peek IHDR equals a real decode, no decoder in the plan") {
    val sp = spark; import sp.implicits._
    val df = Seq((5L, 3), (6L, 0), (13L, 4)).map { case (id, label) =>
      (id, label, MultimodalOps.encodePng(id, label))
    }.toDF("vec_id", "label", "png")
    val rows = MultimodalOps.pngHeaderProbe(df).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))))
      .toMap
    for ((id, label) <- Seq((5L, 3), (6L, 0), (13L, 4))) {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(MultimodalOps.encodePng(id, label)))
      // signature recognized; dimensions match the real decode; the
      // writer's fixed 8-bit truecolor header (bit depth 8, color type 2)
      assert(rows(id) == ((true, img.getWidth, img.getHeight, 8, 2)), rows(id).toString)
    }
    // a non-PNG payload is flagged, not crashed on
    val bad = Seq((99L, 0, "not a png at all, but long enough".getBytes("UTF-8")))
      .toDF("vec_id", "label", "png")
    val b = MultimodalOps.pngHeaderProbe(bad).collect()(0)
    assert(!b.getBoolean(1))
    // header peeks are pure projections: no object serialization /
    // mapPartitions lambda in the plan (m6's decoder path has both)
    val plan = MultimodalOps.pngHeaderProbe(df).queryExecution.executedPlan.toString
    assert(!plan.contains("SerializeFromObject") && !plan.contains("MapPartitions"), plan)
  }

  test("e5 cluster balance: hand-checked argmax, low-id ties, hash-order quota, no join") {
    val sp = spark; import sp.implicits._
    import graft.spark.ops.SimOps
    def v(fs: Float*): Array[Float] = fs.toArray
    // centroids 0/1/2 = unit axes; members scaled copies; vec 9 ties c0/c1
    val emb = Seq(
      (0L, v(1, 0, 0, 0), 0), (1L, v(0, 1, 0, 0), 0), (2L, v(0, 0, 1, 0), 0),
      (3L, v(5, 0, 0, 0), 0), (4L, v(0, 3, 0, 0), 0), (5L, v(0, 0, 7, 0), 0),
      (6L, v(2, 0.1f, 0, 0), 0), (7L, v(0.1f, 2, 0, 0), 0),
      (9L, v(1, 1, 0, 0), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = SimOps.clusterBalance(emb, Seq(0L, 1L, 2L), 100).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(out(3L)._1 == "c0" && out(6L)._1 == "c0")
    assert(out(4L)._1 == "c1" && out(7L)._1 == "c1")
    assert(out(5L)._1 == "c2")
    // exact tie between c0 and c1 falls to the LOWER centroid id
    assert(out(9L)._1 == "c0")
    // quota order replays the t5 hash arithmetic (okey asc, id asc)
    val c0 = Seq(0L, 3L, 6L, 9L)
      .sortBy(id => ((id & 2147483647L) * 2654435761L % 1000000007L, id))
    c0.zipWithIndex.foreach { case (id, i) => assert(out(id) == (("c0", i + 1))) }
    // cap bites: k=2 keeps only the first two of c0's four members
    val capped = SimOps.clusterBalance(emb, Seq(0L, 1L, 2L), 2).collect()
      .map(_.getLong(0)).toSet
    assert(c0.take(2).toSet.subsetOf(capped) && !capped.contains(c0(2)))
    // assignment is map-only: literal codebook, no join operator of any kind
    val plan = SimOps.clusterBalance(emb, Seq(0L, 1L, 2L), 100)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"), plan.take(600))
  }

  test("t22 split leakage: re-derived splits equal the joined form, leaks exist") {
    val sp = spark
    import graft.spark.ops.{DedupOps, TextOps}
    val audit = graft.SparkEntry.queries("t22_split_leakage")(sp, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getString(3), r.getBoolean(4)))).toMap
    assert(audit.nonEmpty)
    // the arithmetic re-derivation must equal an explicit join against
    // withSplit (the form the helper refactor replaced)
    val base = DedupOps.withVariants(sp, sf)
    val splits = TextOps.withSplit(base).select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    audit.foreach { case ((a, b), (sa, sb, leaky)) =>
      assert(splits(a) == sa && splits(b) == sb, s"($a,$b)")
      assert(leaky == (sa != sb))
    }
    // the planted variant pairs make both verdicts non-degenerate
    assert(audit.values.exists(_._3) && audit.values.exists(!_._3))
  }

  test("p4 release assembly: every stage bites, exactly 50 eval docs, broadcast carve") {
    val sp = spark
    val docs = sp.read.parquet(s"$sf/documents.parquet")
    val total = docs.count()
    val df = graft.SparkEntry.queries("p4_release")(sp, sf)
    val rows = df.collect()
    val byBucket = rows.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    // the eval carve is EXACTLY k, and every survivor lands in a bucket
    assert(byBucket("eval") == 50, byBucket.toString)
    assert(byBucket.keySet.subsetOf(Set("eval", "train", "val", "test")))
    // url dedup + p95 floor both bite: survivors < keepers < total
    assert(rows.length < total, s"${rows.length} vs $total")
    // eval ids are the bottom-50 sample of the floored survivors: they
    // must be disjoint from train/val/test and unique
    val evalIds = rows.filter(_.getString(2) == "eval").map(_.getLong(0))
    assert(evalIds.distinct.length == 50)
    // the 50-row eval set joins back by broadcast, never a shuffle join
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
  }

  test("jpeg SOF walk: segment fold equals a real decode, no decoder in the plan") {
    val sp = spark; import sp.implicits._
    val df = Seq((5L, 3), (6L, 0), (13L, 4)).map { case (id, label) =>
      (id, label, MultimodalOps.encodeJpeg(id, label))
    }.toDF("vec_id", "label", "jpg")
    val rows = MultimodalOps.jpegSofProbe(df).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getInt(2), r.getInt(3), r.getInt(4))))
      .toMap
    for ((id, label) <- Seq((5L, 3), (6L, 0), (13L, 4))) {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(MultimodalOps.encodeJpeg(id, label)))
      // the walk crossed the APPn/DQT segments and read the true frame
      // header: baseline SOF0 (0xC0) with the real decode's dimensions
      assert(rows(id) == ((true, 192, img.getWidth, img.getHeight)), rows(id).toString)
    }
    // a non-JPEG payload is flagged, not crashed on
    val bad = Seq((99L, 0, "definitely not a jpeg, but long enough".getBytes("UTF-8")))
      .toDF("vec_id", "label", "jpg")
    assert(!MultimodalOps.jpegSofProbe(bad).collect()(0).getBoolean(1))
    // the fold is a pure projection: no object serialization / lambda task
    val plan = MultimodalOps.jpegSofProbe(df).queryExecution.executedPlan.toString
    assert(!plan.contains("SerializeFromObject") && !plan.contains("MapPartitions"), plan)
  }

  test("jpeg SOF walk: arbitrary bytes never fail the fold (nulls, not exceptions)") {
    val sp = spark; import sp.implicits._
    // seeded RNG: adversarial-but-deterministic payloads, incl. ones that
    // start FFD8 by construction so the walk runs off into random markers
    val rnd = new scala.util.Random(42)
    val payloads = (1L to 60L).map { i =>
      val n = 2 + rnd.nextInt(64)
      val b = new Array[Byte](n); rnd.nextBytes(b)
      if (i % 3 == 0) { b(0) = 0xFF.toByte; if (n > 1) b(1) = 0xD8.toByte }
      (i, 0, b)
    }
    val rows = MultimodalOps.jpegSofProbe(payloads.toDF("vec_id", "label", "jpg")).collect()
    assert(rows.length == 60)
    // every row evaluates; truncated/garbage walks surface as -1 or null
    // width, never a task failure
    rows.foreach { r =>
      assert(!r.isNullAt(0) && !r.isNullAt(1))
      if (!r.isNullAt(3)) assert(r.getInt(3) >= -1)
    }
  }

  test("gif multi-frame: every frame decodes to the formula, stride sampling exact") {
    val sp = spark; import sp.implicits._
    // frame independence + losslessness: decode EVERY frame of one asset
    // and compare every pixel to the generation formula
    val bytes = MultimodalOps.encodeGif(7L, 2)
    val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    reader.setInput(javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes)))
    val n = reader.getNumImages(true)
    assert(n == 3 + (7 % 4), s"frames $n")
    for (f <- 0 until n) {
      val img = reader.read(f)
      assert(img.getWidth == 16 + (7 % 5) * 8 && img.getHeight == 12 + (2 % 4) * 6)
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        val g = MultimodalOps.gifGray(7L, 2, x, y, f)
        assert((img.getRGB(x, y) & 0xffffff) == ((g << 16) | (g << 8) | g),
          s"f=$f x=$x y=$y")
      }
    }
    // the Spark op: stride-2 keyframe sampling over a small asset table
    val df = Seq((5L, 3), (6L, 0), (13L, 1)).map { case (id, label) =>
      (id, label, MultimodalOps.encodeGif(id, label))
    }.toDF("vec_id", "label", "gif")
    val rows = MultimodalOps.gifFrameSample(df).collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6), r.getInt(7))))
      .toMap
    for ((id, label) <- Seq((5L, 3), (6L, 0), (13L, 1))) {
      val w = 16 + (id % 5).toInt * 8; val h = 12 + (label % 4) * 6
      val nf = 3 + (id % 4).toInt
      val sampled = (0 until nf by 2)
      def px(x: Int, y: Int, f: Int) = {
        val g = MultimodalOps.gifGray(id, label, x, y, f); (g << 16) | (g << 8) | g
      }
      assert(rows(id) == ((true, nf, w, h, sampled.length,
        px(0, 0, sampled.head), px(w - 1, h - 1, sampled.last))), rows(id).toString)
    }
  }

  test("multimodal: encode/decode stub roundtrip with real schema") {
    val meta = MultimodalOps.decodeMeta(MultimodalOps.assets(spark, sf)).collect()
    assert(meta.length == 500)
    assert(meta.forall(_.getBoolean(5)))
    assert(meta.forall(r => r.getInt(1) == 32 + (r.getLong(0) % 7).toInt * 16))
  }

  test("extract_spans SQL expression matches the pipeline") {
    import org.apache.spark.sql.functions._
    ExtractSpans.register(spark)
    val df = spark.createDataFrame(Seq(
      (1L, "<html><head><script>x</script></head><body><nav>n</nav><p>hello <b>world</b></p></body></html>")
    )).toDF("id", "html")
    val rows = df.select(col("id"), ExtractSpans.extract_spans(col("html")).as("spans"))
      .selectExpr("id", "inline(spans)").collect()
    assert(rows.map(_.getString(2)).filter(_.nonEmpty) sameElements Array("hello ", "world"))
    // SQL surface
    df.createOrReplaceTempView("docs_html")
    val viaSql = spark.sql("select size(extract_spans(html)) n from docs_html").collect()
    assert(viaSql(0).getInt(0) == 2)
    // per document, the text of extract_spans over the concatenated text
    // fragments equals the text of the pipeline over the fragments
    val textOf = (spans: org.apache.spark.sql.Column) =>
      array_join(transform(filter(spans, s => s.getField("kind") === "text"),
        s => s.getField("text")), "")
    val table = InterleavedGen.table(spark, sf)
    val viaFn = table.toDF()
      .select(col("doc_id"), textOf(ExtractSpans.extract_spans(textOf(col("spans")))))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val viaPipeline = ExtractPipeline.extract(table).collect()
      .map(d => d.doc_id -> d.spans.filter(_.kind == "text").map(_.text).mkString).toMap
    assert(viaFn.size == 500)
    assert(viaFn == viaPipeline)
    // and span for span what the engine gives for the whole document
    val engine = new graft.extract.Extractor(graft.extract.ExtractPolicy.Default)
    table.toDF().select(textOf(col("spans")).as("html"))
      .select(col("html"), ExtractSpans.extract_spans(col("html")))
      .collect().foreach { r =>
        val got = r.getSeq[org.apache.spark.sql.Row](1)
          .map(s => (s.getString(0), s.getString(1), s.getString(2), s.getInt(3)))
        val want = engine.extractString(r.getString(0)).spans
          .map(s => (s.kind, s.text, s.media_ref, s.offset))
        assert(got == want)
      }
    // NULL in, NULL out
    val nulls = spark.createDataFrame(Seq((2L, null: String))).toDF("id", "html")
      .select(ExtractSpans.extract_spans(col("html"))).collect()
    assert(nulls.length == 1 && nulls(0).isNullAt(0))
    assert(spark.sql("select extract_spans(cast(null as string))").head().isNullAt(0))
  }

  test("size-balanced extraction spreads giant documents across tasks") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.col
    // skewed corpus: every 101st doc is a ~54KB giant (uniform size so the
    // achievable balance is deterministic), the rest stay ~0.4KB
    val docs = sp.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .as[InterleavedGen.DocRow]
      .map(d => if (d.doc_id % 101 == 0) d.copy(text = "lorem ipsum dolor sit " * 2500) else d)
      .map(d => InterleavedDoc(d.doc_id.toString, InterleavedGen.spansFor(d)))
    val out = ExtractPipeline.extractSizeBalanced(docs,
      targetBytesPerPartition = Long.MaxValue, minPartitions = 8)
    val loads = out.mapPartitions { it =>
      var b = 0L
      it.foreach(d => d.spans.foreach(s => if (s.kind == "text") b += s.text.length))
      Iterator.single(b)
    }.collect()
    assert(loads.length == 8)
    assert(out.count() == 500)
    val mean = loads.sum.toDouble / loads.length
    val ratio = loads.max / mean
    // LPT striping: the 5 giants land on 5 distinct partitions, so the
    // heaviest task is one giant + a hash share of the tail. A count-based
    // hash repartition can stack several giants on one task (>3x here).
    assert(ratio <= 2.0, s"max/mean partition bytes = $ratio (loads: ${loads.mkString(",")})")
  }

  test("size-balanced extraction keeps documents with null span text") {
    val sp = spark
    import sp.implicits._
    // media spans legitimately carry null text; the byte pre-pass must
    // not turn the aggregate NULL (which would drop the doc silently)
    val docs = Seq(
      InterleavedDoc("a", Seq(InSpan("text", "<p>x</p>", "", 0))),
      InterleavedDoc("b", Seq(InSpan("text", "<p>y</p>", "", 0),
        InSpan("media", null, "media://b/0", 8)))).toDS()
    val out = ExtractPipeline.extractSizeBalanced(docs,
      targetBytesPerPartition = Long.MaxValue, minPartitions = 2)
    assert(out.collect().map(_.doc_id).sorted.toSeq == Seq("a", "b"))
  }

  test("extract_interleaved resolves span struct fields by name") {
    // external parquet may carry the span struct in a different physical
    // order (here: media_ref, offset, kind, text) — ordinals must resolve
    // by name, not position
    val df = spark.sql(
      "select '1' as doc_id, array(" +
        "named_struct('media_ref', '', 'offset', 0, 'kind', 'text', 'text', '<p>hi '), " +
        "named_struct('media_ref', 'media://1/0', 'offset', 6, 'kind', 'media', 'text', ''), " +
        "named_struct('media_ref', '', 'offset', 6, 'kind', 'text', 'text', 'there</p>')" +
        ") as spans")
    val rows = ExtractPipeline.extractDF(df).selectExpr("inline(spans)").collect()
    val text = rows.filter(_.getString(0) == "text").map(_.getString(1)).mkString
    val media = rows.filter(_.getString(0) == "media").map(_.getString(2))
    assert(text == "hi there")
    assert(media.toSeq == Seq("media://1/0"))
    // mistyped input fails at analysis time, not mid-job
    val bad = spark.sql("select array(named_struct('kind', 1, 'text', 'x', 'media_ref', '')) as spans")
    intercept[org.apache.spark.sql.AnalysisException] {
      ExtractPipeline.extractDF(bad).collect()
    }
  }

  test("checkpointed extraction resumes mid-table from the ledger") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val docs = InterleavedGen.table(spark, sf)

    // single-scan evidence: the whole 4-bucket pass must be ONE Spark job
    // (one FileScan for N buckets), not a scan per bucket
    spark.sparkContext.setJobGroup("ckpt-single-scan", "checkpoint pass")
    val first =
      try CheckpointedExtract.run(docs, dir, buckets = 4)
      finally spark.sparkContext.clearJobGroup()
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup("ckpt-single-scan").length
    assert(jobs == 1, s"expected one job for the 4-bucket pass, saw $jobs")
    assert(first.map(_.bucket).sorted == Seq(0, 1, 2, 3))
    assert(first.map(_.docs).sum == 500)
    assert(first.map(_.bytes).sum > 0)
    // simulate a crash after 2 buckets: keep header + first two bucket lines
    val p = java.nio.file.Paths.get(dir, "_ledger.jsonl")
    val lines = java.nio.file.Files.readAllLines(p)
    assert(lines.get(0).contains("\"header\":1"))
    java.nio.file.Files.write(p,
      String.join("\n", lines.subList(0, 3)).concat("\n").getBytes("UTF-8"))
    val resumed = CheckpointedExtract.run(docs, dir, buckets = 4)
    assert(resumed.map(_.bucket).sorted == Seq(2, 3))
    // full output present exactly once
    val n = spark.read.parquet(s"$dir/bucket=*").count()
    assert(n == 500)
    // third run: nothing to do
    assert(CheckpointedExtract.run(docs, dir, buckets = 4).isEmpty)
    // resume with a different bucket count must fail fast (disjoint
    // partitionings would silently duplicate/lose documents)
    intercept[IllegalArgumentException] {
      CheckpointedExtract.run(docs, dir, buckets = 8)
    }
    // multi-pass knob: a fresh run with 2 buckets per pass commits in two
    // ledger passes but produces the same output
    val dir2 = java.nio.file.Files.createTempDirectory("graft_ckpt2").toString
    val two = CheckpointedExtract.run(docs, dir2, buckets = 4, maxBucketsPerPass = 2)
    assert(two.map(_.bucket).sorted == Seq(0, 1, 2, 3))
    assert(spark.read.parquet(s"$dir2/bucket=*").count() == 500)
  }

  test("streaming extraction over a file stream matches batch output") {
    val inDir = java.nio.file.Files.createTempDirectory("graft_sin").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_sout").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft_sck").toString
    InterleavedGen.table(spark, sf).toDF().write.mode("overwrite").parquet(inDir)
    val q = graft.streaming.StreamingExtract.run(spark, inDir, outDir, ckDir)
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(outDir).count()
    assert(streamed == 500)
  }

  test("streaming dedup drops duplicate documents within the watermark") {
    import org.apache.spark.sql.functions._
    val inDir = java.nio.file.Files.createTempDirectory("graft_din").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_dout").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft_dck").toString
    // 500 docs, each duplicated once under a shifted id (a re-crawl)
    val base = InterleavedGen.table(spark, sf).toDF()
    base.unionAll(base.withColumn("doc_id", concat(lit("re-"), col("doc_id"))))
      .write.mode("overwrite").parquet(inDir)
    val in = spark.readStream
      .schema(graft.streaming.StreamingExtract.inputSchema).parquet(inDir)
    val q = graft.streaming.StreamingExtract.dedupStream(in)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val out = spark.read.parquet(outDir)
    assert(out.count() == 500) // one survivor per content fingerprint
    assert(out.select(countDistinct(col("fp"))).head().getLong(0) == 500)
  }

  test("streaming ingest loop: batches verdict-checked against staged postings, novel docs accepted") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions._
    val stageDir = java.nio.file.Files.createTempDirectory("graft_ingst").toString
    val inDir = java.nio.file.Files.createTempDirectory("graft_ingin").toString
    val verdictDir = java.nio.file.Files.createTempDirectory("graft_ingv").toString
    val acceptedDir = java.nio.file.Files.createTempDirectory("graft_inga").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ingck").toString
    // corpus staged ONCE (the production shape); the stream then runs
    // ingest batches against the staged postings with no re-shingling
    val corpus = (0L until 50L).map(i => (i, s"c$i d$i e$i f$i g$i h$i " +
      "shared common boiler plate text here")).toDF("doc_id", "text")
    DedupOps.clearMemos()
    DedupOps.stageShingles(corpus, stageDir, buckets = 4)
    // batch: one exact re-crawl of doc 7, one novel doc
    Seq((1007L, "c7 d7 e7 f7 g7 h7 shared common boiler plate text here"),
        (2000L, Array.tabulate(12)(j => s"nv$j").mkString(" ")))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(inDir)
    val q = graft.streaming.StreamingExtract.ingestDedupStream(
      spark, inDir, stageDir, verdictDir, acceptedDir, ckDir)
    q.awaitTermination(120000)
    val verdicts = spark.read.parquet(verdictDir).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2))))
      .toMap
    assert(verdicts(1007L) == ((true, 7L)), verdicts.toString)   // dup of corpus doc 7
    assert(verdicts(2000L) == ((false, -1L)), verdicts.toString) // novel
    // only the novel doc reaches the accepted corpus feed
    val accepted = spark.read.parquet(acceptedDir).select("doc_id").collect().map(_.getLong(0))
    assert(accepted.toSeq == Seq(2000L), accepted.mkString(","))
    DedupOps.clearMemos()
  }

  test("streaming decontamination equals the d15 bloom verdicts (file stream, map-only)") {
    val sp = spark; import sp.implicits._
    import graft.streaming.StreamingDecontaminate
    val tmp = java.nio.file.Files.createTempDirectory("sdecon").toString
    val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val ckDir = s"$tmp/ck"
    val evalText = "one two three four five six seven eight nine ten eleven twelve thirteen fourteen"
    val docs = Seq(
      (1L, "prefix words " + evalText + " suffix words"),
      (2L, "clean document " + Array.tabulate(20)(i => s"c$i").mkString(" ")),
      (3L, "tiny")) ++ (4 to 30).map(i =>
      (i.toLong, Array.tabulate(15)(j => s"u${i}w$j").mkString(" ")))
    val docsDf = docs.toDF("doc_id", "text")
    docsDf.write.parquet(inDir)
    val benchmark = Seq((100L, evalText)).toDF("doc_id", "text")
    val probe = StreamingDecontaminate.buildProbe(benchmark)
    val q = StreamingDecontaminate.verdicts(
      sp.readStream.schema("doc_id LONG, text STRING").parquet(inDir)
        .as[StreamingDecontaminate.Doc], probe)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = sp.read.parquet(outDir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // bit-identical to the batch d15 bloom_hit column (same grams, same
    // XXH64 seed, same bit array)
    val batch = DedupOps.decontaminateBloom(docsDf, benchmark)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed(1L) && !streamed(2L) && !streamed(3L))
    // the apply form drops exactly the flagged docs
    val kept = StreamingDecontaminate.clean(
      docsDf.as[StreamingDecontaminate.Doc], probe).collect().map(_.doc_id).toSet
    assert(kept == docs.map(_._1).toSet - 1L)
  }

  test("salted rebalance evens out a pathologically skewed input") {
    import org.apache.spark.sql.functions._
    // all rows crammed into one partition; AQE off so the requested
    // partitioning is observable (tiny test data would be coalesced)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val skewed = InterleavedGen.table(spark, sf).coalesce(1)
      assert(skewed.rdd.getNumPartitions == 1)
      val balanced = ExtractPipeline.extractSizeBalanced(skewed, Long.MaxValue, minPartitions = 8)
      val sizes = balanced.toDF().groupBy(spark_partition_id()).count().collect().map(_.getLong(1))
      assert(sizes.length == 8, sizes.mkString(","))
      assert(sizes.min > 30, s"unbalanced: ${sizes.mkString(",")}") // ~62 expected per partition
      assert(balanced.count() == 500)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("stateful sessionize (flatMapGroupsWithState) matches the window version") {
    import graft.streaming.StatefulSessionize
    val stateful = StatefulSessionize.sessionize(
      StatefulSessionize.fromParquet(spark, sf), 1800L).collect()
      .map(r => (r.event_id, r.user_id) -> r.session_id).toMap
    val windowed = graft.SparkEntry.queries("r5_sessionize")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(stateful.size == windowed.size)
    assert(stateful == windowed)
  }

  test("all oracle queries produce rows at sf0.001") {
    for ((name, fn) <- graft.SparkEntry.queries) {
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("large-star/small-star components == label propagation on adversarial graphs") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.col
    // high-diameter chain (the case min-label propagation needs O(n)
    // rounds for and the star algorithm O(log n)), a big star, disjoint
    // pairs, and isolated nodes
    val chain = (0L until 60L).sliding(2).map(w => (w(0), w(1))).toSeq
    val star = (101L to 130L).map(i => (100L, i))
    val pairsSeq = chain ++ star ++ Seq((200L, 201L), (300L, 301L), (301L, 302L))
    val nodes = (0L until 60L) ++ (100L to 130L) ++
      Seq(200L, 201L, 300L, 301L, 302L, 400L, 401L) // 400/401 isolated
    val base = nodes.toDF("doc_id")
    val pairs = pairsSeq.toDF("id_a", "id_b")
    val viaStar = DedupOps.clusterIdsStar(base, pairs)
    val viaProp = DedupOps.clusterIds(base, pairs)
    val a = viaStar.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = viaProp.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.toSeq == b.toSeq)
    // chain collapses to min 0, star to 100, isolated nodes label self
    val m = a.toMap
    assert((0L until 60L).forall(m(_) == 0L))
    assert((100L to 130L).forall(m(_) == 100L))
    assert(m(302L) == 300L && m(400L) == 400L)
    viaStar.unpersist(); viaProp.unpersist()
    // empty pair list: every node labels itself
    val none = DedupOps.clusterIdsStar(base, Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    assert(none.where(col("doc_id") =!= col("cluster_id")).count() == 0)
    none.unpersist()
  }

  test("star components converge in O(log n) rounds on a 300-deep chain") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.col
    // the case the operator exists for: diameter 300 would cost label
    // propagation 300 rounds; the star algorithm must stay logarithmic
    val n = 300L
    val before = spark.sparkContext.getPersistentRDDs.size
    val chain = (0L until n).sliding(2).map(w => (w(0), w(1))).toSeq
    val out = DedupOps.clusterIdsStar(
      (0L until n).toDF("doc_id"), chain.toDF("id_a", "id_b"))
    assert(out.where(col("cluster_id") =!= 0L).count() == 0)
    assert(DedupOps.lastStarRounds <= 2 * (64 - java.lang.Long.numberOfLeadingZeros(n)) + 4,
      s"rounds=${DedupOps.lastStarRounds}")
    // dead rounds are released eagerly: storage must not grow O(rounds)
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 2, s"leaked checkpoints: $before -> $after")
    out.unpersist()
  }
}

/** Clustered-embedding IVF evidence (round-2 verdict ask): on blob-shaped
  * data — the shape real embedding models produce — the intended
  * low-probe-fraction regime (nprobe 2-4 of 32 lists) reaches recall >=
  * 0.9, turning the operator doc's scale claim into a tested fact. The
  * near-uniform synthetic tables are IVF's worst case and need 24/32.
  */
class IvfClusteredSpec extends org.scalatest.funsuite.AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ivf-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Deterministic Gaussian-ish blobs: 16 well-separated centers in 16
    * dims, per-point noise at 10% of the center scale (mix64-driven, no
    * RNG state).
    */
  private def blobTable(n: Int, centers: Int = 16, dim: Int = 16) = {
    val s = spark
    import s.implicits._
    def u(seed: Long): Double = // uniform [-1, 1)
      (DedupOps.mix64(seed) >> 11).toDouble / (1L << 52).toDouble
    val rows = (0L until n.toLong).map { id =>
      val c = (id % centers).toInt
      val v = Array.tabulate(dim) { d =>
        val center = 10.0 * u(c.toLong * 7919L + d.toLong + 1L)
        (center + 1.0 * u(id * 104729L + d.toLong + 17L)).toFloat
      }
      (id, v)
    }
    spark.createDataset(rows).toDF("vec_id", "embedding")
  }

  test("IVF at nprobe 2-4 of 32 lists reaches recall >= 0.9 on clustered data") {
    val emb = blobTable(2000)
    val queryIds = 0L to 9L
    val k = 10
    val gate = SimOps.ivfRecallGate(emb, queryIds, k, nCentroids = 32,
      nprobe = 4, minRecall = 0.9).collect()(0)
    assert(gate.getAs[Boolean]("recall_ok"),
      "nprobe=4/32 should reach recall >= 0.9 on blob data")

    // and the aggressive end of the regime still clears a useful bar
    val gate2 = SimOps.ivfRecallGate(emb, queryIds, k, nCentroids = 32,
      nprobe = 2, minRecall = 0.8).collect()(0)
    assert(gate2.getAs[Boolean]("recall_ok"),
      "nprobe=2/32 should reach recall >= 0.8 on blob data")
  }
}

/** The native rolling-hash expression must be bit-identical to the
  * interpreted HOF formulation it replaced (and hence to the DuckDB
  * oracle's list_reduce recurrence).
  */
class RollingHashParitySpec extends org.scalatest.funsuite.AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .appName("graft-rollhash").config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def legacy(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    aggregate(
      transform(split(text, ""), ch => ascii(ch).cast("long")),
      lit(0L),
      (acc, b) => pmod(acc * lit(131L) + b, lit(1000000007L)))
  }

  test("native expression equals the legacy HOF on corpus + edge strings") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    RollingHashFn.register(spark)
    val edge = Seq("", " ", "a", "abc def", "x" * 2000, "tab\tnl\n", "punct.,;!?")
      .toDF("text")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("text")
    val all = docs.unionAll(edge)
    val n = all.select(expr("rolling_hash(text)").as("a"), legacy(col("text")).as("b"))
      .where(col("a") =!= col("b")).count()
    assert(n == 0L)
  }
}
