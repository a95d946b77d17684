package graft.perfbench

import graft.SparkEntry
import graft.core.IntBuf
import graft.extract.{ExtractPolicy, Extractor}
import graft.spark.{ExtractPipeline, InterleavedDoc, InterleavedGen}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** The Spark workloads: `table_small` (scan -> `ExtractPipeline.extract`
  * -> map-side reduction over a small-document table) and `dedup_memo`
  * (repeated passes of dedup queries that share session memos).
  */
object SparkBench {

  def session(cfg: Config): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${Host.Slots}]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", Host.Slots.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", cfg.workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", cfg.workDir.resolve("warehouse").toString)
      // one task per input file: the table is written as many small files
      .config("spark.sql.files.openCostInBytes", (128L << 20).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `f` as job group `group`, so listener facts can be keyed by it. */
  private def inGroup[A](spark: SparkSession, group: String)(f: => A): A = {
    spark.sparkContext.setJobGroup(group, group)
    try f finally spark.sparkContext.clearJobGroup()
  }

  /** Set-up repeated three times: a fresh SparkContext, then `warm` on
    * it. The first rep counts from process launch; input generation,
    * which runs inside the first `warm`, is subtracted.
    */
  private def setUp(cfg: Config, res: Result, genS: => Double)(warm: SparkSession => Unit): SparkSession = {
    val reps = new Array[Double](3)
    var spark: SparkSession = null
    for (rep <- 0 until 3) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cfg)
      warm(spark)
      reps(rep) =
        if (rep == 0) (System.currentTimeMillis() - cfg.launchedAtMs) / 1e3 - genS
        else (System.nanoTime() - t0) / 1e9
    }
    res.put("setup_s", Stats.median(reps.toSeq), "s")
    res.info("setup_reps_s") = reps.toSeq
    res.info("inputs_s") = genS
    spark
  }

  /** Repeats `pass` untimed for `seconds` (at least once), between set-up
    * and timed work, so timed passes start from a settled JIT.
    */
  private def settle(res: Result, seconds: Double)(pass: => Any): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    while (n == 0 || System.nanoTime() - t0 < seconds * 1e9) { pass; n += 1 }
    res.info("settle_s") = (System.nanoTime() - t0) / 1e9
    res.info("settle_passes") = n
  }

  /** End-to-end figures of batch passes. Every document of a pass
    * completes when its pass does, so each pass contributes `docsPerPass`
    * latency samples, and the median document latency is the median pass
    * time; the rates are taken over that median pass too.
    */
  private def putPassMetrics(res: Result, passS: Seq[Double], docsPerPass: Long, bytesPerPass: Long): Unit = {
    val median = Stats.median(passS)
    res.put("docs_per_s", docsPerPass / median, "docs/s")
    res.put("mb_per_s", bytesPerPass / 1e6 / median, "MB/s")
    res.put("doc_ms_p50", median * 1e3, "ms")
    res.put("doc_ms_p99", Stats.percentile(passS.map(_ * 1e3), Seq.fill(passS.length)(docsPerPass), 0.99), "ms")
    res.info("passes") = passS.length
    res.info("pass_s") = passS
  }

  /** Listener facts over the tasks of the groups starting with `prefix`,
    * `passes` passes of `docsPerPass` documents each.
    */
  private def putTaskMetrics(res: Result, log: TaskLog, prefix: String, passes: Int, docsPerPass: Long): Unit = {
    val ts = log.of(prefix)
    val dur = ts.map(_.durationMs.toDouble)
    val docs = passes.toDouble * docsPerPass
    res.put("spark.task_ms_per_doc", dur.sum / docs, "ms")
    res.put("spark.gc_ms_per_doc", ts.map(_.gcMs).sum / docs, "ms")
    res.put("spark.task_ms_p50", Stats.percentile(dur, 0.5), "ms")
    res.put("spark.task_ms_p99", Stats.percentile(dur, 0.99), "ms")
    val run = ts.map(_.runMs).sum
    if (run > 0) res.put("spark.gc_frac", ts.map(_.gcMs).sum.toDouble / run, "ratio")
    else res.unmeasured("spark.gc_frac", "ratio", "no task run time recorded")
    res.put("spark.shuffle_write_bytes", ts.map(_.shuffleWriteB).sum.toDouble / passes, "B")
    res.put("spark.spill_bytes", ts.map(_.spillB).sum.toDouble / passes, "B")
    res.put("spark.input_bytes", ts.map(_.inputB).sum.toDouble / passes, "B")
    res.info("spark.tasks") = ts.length
  }

  // ------------------------------------------------------------------
  // table_small

  val TableDocs = 20000
  val TableFiles = 64
  /** Seconds of untimed passes after set-up: pass times kept falling by
    * about a third over the first ~10 s of passes after the set-up reps,
    * so timed passes start on the flatter part.
    */
  val TableSettleS = 6.0

  /** Digest of one document's extraction: its text spans concatenated,
    * its media refs in order, and its error.
    */
  private[perfbench] def spanDigest(spans: Column, error: Column): Column = {
    val text = concat_ws("", transform(filter(spans, s => s("kind") === "text"), s => s("text")))
    val media = concat_ws("|", transform(filter(spans, s => s("kind") === "media"), s => s("media_ref")))
    xxhash64(text, media, coalesce(error, lit("")))
  }

  /** Expected digests from (doc_id, source text, media refs joined by
    * "|"): the same hash [[spanDigest]] takes of a correct extraction.
    */
  private[perfbench] def wantDigests(spark: SparkSession, want: Seq[(String, String, String)]): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(want, Host.Slots).toDF("doc_id", "text", "media")
      .select(col("doc_id"), xxhash64(col("text"), col("media"), lit("")).as("want"))
  }

  /** Documents whose extraction differs from its expected digest, or that
    * are missing on either side.
    */
  private[perfbench] def mismatchedDocs(extracted: DataFrame, want: DataFrame): Long =
    extracted.select(col("doc_id"), spanDigest(col("spans"), col("error")).as("got"))
      .join(want, Seq("doc_id"), "full_outer")
      .where(!(col("got") <=> col("want"))).count()

  /** Map-only reduction of a (long digest, int n) projection to (rows,
    * sum of n, xor of digests): no shuffle, so the job stays scan ->
    * engine -> per-task aggregate, as the paper's extraction job is.
    */
  private def reduce(df: DataFrame): (Long, Long, Long) =
    df.queryExecution.toRdd.mapPartitions { rows =>
      var c = 0L; var s = 0L; var x = 0L
      rows.foreach { r => c += 1; x ^= r.getLong(0); s += r.getInt(1) }
      Iterator.single((c, s, x))
    }.collect().foldLeft((0L, 0L, 0L)) {
      case ((c, s, x), (c2, s2, x2)) => (c + c2, s + s2, x ^ x2)
    }

  /** The generated table and what extraction must give back for it. */
  private final class TableInputs(seed: Long, val path: String) {
    val docs = Gen.documents(seed, TableDocs)
    val rows: IndexedSeq[InterleavedDoc] =
      docs.map(d => InterleavedDoc(d.doc_id.toString, InterleavedGen.spansFor(d)))
    val htmlBytes: Long =
      rows.iterator.flatMap(_.spans).map(s => s.text.getBytes(UTF_8).length.toLong).sum
    /** (doc_id, source text, media refs joined by "|") per document. */
    val want: IndexedSeq[(String, String, String)] = docs.zip(rows).map { case (d, r) =>
      (r.doc_id, d.text, r.spans.filter(_.kind == "media").map(_.media_ref).mkString("|"))
    }
    var written = false
    var wantXor = 0L

    def wantDf(spark: SparkSession): DataFrame = wantDigests(spark, want)

    def write(spark: SparkSession): Unit = {
      import spark.implicits._
      spark.sparkContext.parallelize(rows, TableFiles).toDS()
        .write.mode("overwrite").parquet(path)
      wantXor = reduce(wantDf(spark).select(col("want"), lit(0)))._3
      written = true
    }
  }

  private def extracted(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    ExtractPipeline.extract(spark.read.parquet(path).as[InterleavedDoc]).toDF()
  }

  /** One timed pass: (documents, spans, xor of per-document digests). */
  private def extractPass(spark: SparkSession, path: String): (Long, Long, Long) = {
    val out = extracted(spark, path)
    reduce(out.select(spanDigest(col("spans"), col("error")), size(col("spans"))))
  }

  /** Scan-only pass: reads and hashes every input column, no engine. */
  private def scanPass(spark: SparkSession, path: String): Long =
    reduce(spark.read.parquet(path)
      .select(xxhash64(col("doc_id"), col("spans")), size(col("spans"))))._1

  /** Counters of the engine pass, one slot each. */
  private object EC {
    val Docs = 0; val Bytes = 1; val LexNs = 2; val Tags = 3; val MatchNs = 4
    val Matches = 5; val ExtractNs = 6; val AllocB = 7; val Spans = 8; val Err0 = 9
    val Size: Int = Err0 + EngineBench.ErrorReasons.length
  }

  /** The benchmark's own `mapPartitions` over the table: assembles each
    * row's HTML and media offsets and times `Extractor.extractRaw` on
    * them, with the lex and match probes beside it.
    */
  private def enginePass(spark: SparkSession, path: String): Array[Long] = {
    import spark.implicits._
    spark.read.parquet(path).as[InterleavedDoc].rdd.mapPartitions { docs =>
      val ex = new Extractor(ExtractPolicy.Default)
      val probe = new LayerProbe(ExtractPolicy.DefaultStrip)
      val off = new Tracer(false)
      val c = new Array[Long](EC.Size)
      var buf = new Array[Byte](4096)
      val media = new IntBuf(8)
      docs.foreach { d =>
        var len = 0
        media.clear()
        d.spans.foreach { s =>
          if (s.kind == "text") {
            val b = s.text.getBytes(UTF_8)
            if (len + b.length > buf.length) buf = java.util.Arrays.copyOf(buf, (len + b.length) * 2)
            System.arraycopy(b, 0, buf, len, b.length)
            len += b.length
          } else media += len
        }
        probe.probe(buf, len, off, -1, -1)
        val a0 = Host.allocatedBytes()
        val t0 = System.nanoTime()
        val r = ex.extractRaw(buf, len, media)
        c(EC.ExtractNs) += System.nanoTime() - t0
        c(EC.AllocB) += Host.allocatedBytes() - a0
        c(EC.Docs) += 1
        c(EC.Bytes) += len
        c(EC.Spans) += r.count
        if (r.error != null) {
          val k = EngineBench.ErrorReasons.indexOf(r.error.takeWhile(_ != ':'))
          if (k >= 0) c(EC.Err0 + k) += 1
        }
      }
      c(EC.LexNs) = probe.lexNs; c(EC.Tags) = probe.tags
      c(EC.MatchNs) = probe.matchNs; c(EC.Matches) = probe.matches
      Iterator.single(c)
    }.collect().reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
  }

  def tableSmall(cfg: Config): Result = {
    val res = new Result(cfg.workload)
    val g0 = System.nanoTime()
    val in = new TableInputs(cfg.seed, cfg.workDir.resolve(s"table_small-${cfg.seed}").toString)
    var genS = (System.nanoTime() - g0) / 1e9
    val spark = setUp(cfg, res, genS) { s =>
      if (!in.written) { val (_, t) = timed(in.write(s)); genS += t }
      extractPass(s, in.path)
      extractPass(s, in.path)
    }
    settle(res, TableSettleS)(extractPass(spark, in.path))
    res.info("docs") = TableDocs
    res.info("html_bytes") = in.htmlBytes
    val compile = (0 until 3).map(_ => timed(new Extractor(ExtractPolicy.Default))._2 * 1e3)
    res.put("selectors.compile_ms", Stats.median(compile), "ms")

    val heap = new HeapGauge()
    heap.read()
    val untraced = mutable.ArrayBuffer[Double]()
    val traced = mutable.ArrayBuffer[Double]()
    var bad = 0
    def checked(r: (Long, Long, Long)): Unit =
      if (r._1 != TableDocs || r._3 != in.wantXor) bad += 1

    val start = System.nanoTime()
    val deadline = cfg.deadlineAfter(start)
    val untracedUntil = if (cfg.trace) cfg.deadlineAfter(start, 1.0 / 3) else deadline
    while (System.nanoTime() < untracedUntil) {
      val (r, t) = timed(extractPass(spark, in.path))
      checked(r); untraced += t
      heap.maybeRead()
    }
    if (cfg.trace) {
      val log = new TaskLog
      spark.sparkContext.addSparkListener(log)
      val tracer = new Tracer(true)
      val scanS, engineS, adapterS = mutable.ArrayBuffer[Double]()
      val eng = new Array[Long](EC.Size)
      var i = 0
      while (System.nanoTime() < deadline || i == 0) {
        val root = tracer.begin("iteration", -1, i)
        def step[A](name: String)(f: => A): A = {
          val sp = tracer.begin(name, root, i)
          val a = inGroup(spark, s"$name#$i")(f)
          tracer.end(sp)
          log.await(spark.sparkContext, s"$name#$i")
          a
        }
        step("spark.scan")(scanPass(spark, in.path))
        val sp = tracer.begin("spark.extract", root, i)
        val (r, t) = timed(inGroup(spark, s"spark.extract#$i")(extractPass(spark, in.path)))
        tracer.end(sp)
        log.await(spark.sparkContext, s"spark.extract#$i")
        checked(r); traced += t
        val e = step("spark.engine")(enginePass(spark, in.path))
        tracer.end(root)
        var k = 0
        while (k < EC.Size) { eng(k) += e(k); k += 1 }
        val taskS = (g: String) => log.of(s"$g#$i").map(_.runMs).sum / 1e3
        scanS += taskS("spark.scan")
        engineS += e(EC.ExtractNs) / 1e9
        adapterS += taskS("spark.extract") - taskS("spark.scan") - e(EC.ExtractNs) / 1e9
        heap.maybeRead()
        i += 1
      }
      res.put("spark.scan_s", Stats.median(scanS.toSeq), "s")
      res.put("spark.engine_s", Stats.median(engineS.toSeq), "s")
      res.put("spark.adapter_s", Stats.median(adapterS.toSeq), "s")
      putTaskMetrics(res, log, "spark.extract#", i, TableDocs)
      putEngineCounters(res, eng)
      res.put("trace.overhead_frac", Stats.median(traced.toSeq) / Stats.median(untraced.toSeq) - 1, "ratio")
      res.info("self_ms") = tracer.selfTimes.map { case (k, v) => k -> v / 1e6 }
      tracer.writeTo(cfg.workDir.resolve(s"trace-${cfg.workload}-${cfg.seed}.tsv"))
      spark.sparkContext.removeSparkListener(log)
    }
    heap.read()
    val passes = untraced ++ traced
    putPassMetrics(res, untraced.toSeq, TableDocs, in.htmlBytes)
    res.put("heap_live_mb", heap.maxMb, "MB")

    // untimed per-document check: every document's digest against the
    // generator's text and media refs
    val mismatched = mismatchedDocs(extracted(spark, in.path), in.wantDf(spark))
    res.attempted = TableDocs.toLong * passes.length
    res.failed = if (bad > 0) TableDocs.toLong * bad else mismatched
    res.checks("per_document") = s"$mismatched of $TableDocs documents differ from the generator's text/media"
    res.checks("per_pass") = s"${passes.length - bad} of ${passes.length} passes match the expected count and digest"
    spark.stop()
    res
  }

  private def putEngineCounters(res: Result, c: Array[Long]): Unit = {
    val mb = c(EC.Bytes) / 1e6
    val docs = c(EC.Docs).toDouble
    res.put("core.lex_ms_per_mb", c(EC.LexNs) / 1e6 / mb, "ms/MB")
    res.put("core.tags_per_mb", c(EC.Tags) / mb, "count/MB")
    res.put("selectors.match_self_ms_per_mb", (c(EC.MatchNs) - c(EC.LexNs)) / 1e6 / mb, "ms/MB")
    res.put("selectors.matches_per_doc", c(EC.Matches) / docs, "count")
    res.put("extract.self_ms_per_mb", (c(EC.ExtractNs) - c(EC.MatchNs)) / 1e6 / mb, "ms/MB")
    res.put("extract.ms_per_mb.small", c(EC.ExtractNs) / 1e6 / mb, "ms/MB")
    res.unmeasured("extract.ms_per_mb.medium", "ms/MB", "every table_small document is small")
    res.unmeasured("extract.ms_per_mb.large", "ms/MB", "every table_small document is small")
    res.put("extract.spans_per_doc", c(EC.Spans) / docs, "count")
    res.put("extract.alloc_b_per_in_b", c(EC.AllocB).toDouble / c(EC.Bytes), "B/B")
    EngineBench.ErrorReasons.zipWithIndex.foreach { case (r, k) =>
      res.put(s"extract.errors.$r", c(EC.Err0 + k) / docs, "1/doc")
    }
  }

  // ------------------------------------------------------------------
  // dedup_memo

  val DedupDocs = 1000
  /** The shingle-postings consumers: the first builds the session's
    * postings memo and the rest reuse it. (The star-CC pair d9 -> d10
    * would more than double a pass and its oracle replay; see README.md.)
    */
  val DedupQueries = Seq("d2_ngram_pairs", "d2b_ngram_pairs_capped", "d14_incremental",
    "d17_shingle_skew")
  val MemoFirst = Set("d2_ngram_pairs")

  final case class PassOut(seconds: Map[String, Double], rows: Map[String, Long], exchanges: Map[String, Int])

  private def shuffleExchanges(df: DataFrame): Int = {
    val fin = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    "(?<![A-Za-z])Exchange ".r.findAllIn(fin).length
  }

  /** One pass: every query, in order, in session `s`. */
  private def dedupPass(s: SparkSession, dir: String, label: String, plans: Boolean,
                        errors: mutable.Map[String, String]): PassOut = {
    val secs = mutable.LinkedHashMap[String, Double]()
    val rows = mutable.LinkedHashMap[String, Long]()
    val ex = mutable.LinkedHashMap[String, Int]()
    for (q <- DedupQueries) {
      val t0 = System.nanoTime()
      try inGroup(s, s"$label/$q") {
        val df = SparkEntry.queries(q)(s, dir)
        rows(q) = df.queryExecution.toRdd.count()
        if (plans) ex(q) = shuffleExchanges(df)
      } catch {
        case e: Exception => rows(q) = -1L; errors(q) = e.toString
      }
      secs(q) = (System.nanoTime() - t0) / 1e9
    }
    PassOut(secs.toMap, rows.toMap, ex.toMap)
  }

  def dedupMemo(cfg: Config): Result = {
    val res = new Result(cfg.workload)
    val dir = cfg.workDir.resolve(s"dedup_memo-${cfg.seed}")
    val docsPath = dir.resolve("documents.parquet").toString
    val g0 = System.nanoTime()
    val docs = Gen.documents(cfg.seed, DedupDocs)
    val textBytes = docs.map(_.text.getBytes(UTF_8).length.toLong).sum
    var genS = (System.nanoTime() - g0) / 1e9
    var written = false
    val errors = mutable.LinkedHashMap[String, String]()
    val spark = setUp(cfg, res, genS) { s =>
      if (!written) {
        import s.implicits._
        val (_, t) = timed(s.createDataset(docs).coalesce(1).write.mode("overwrite").parquet(docsPath))
        genS += t
        written = true
      }
      dedupPass(s.newSession(), dir.toString, "warm", plans = false, errors)
    }
    res.info("docs") = DedupDocs
    res.info("text_bytes") = textBytes
    settle(res, 0)(dedupPass(spark.newSession(), dir.toString, "settle", plans = false, errors))

    val heap = new HeapGauge()
    heap.read()
    val untraced = mutable.ArrayBuffer[PassOut]()
    val traced = mutable.ArrayBuffer[PassOut]()
    val start = System.nanoTime()
    val deadline = cfg.deadlineAfter(start)
    val untracedUntil = if (cfg.trace) cfg.deadlineAfter(start, 1.0 / 3) else deadline
    var session = spark
    while (System.nanoTime() < untracedUntil || untraced.isEmpty) {
      session = spark.newSession()
      untraced += dedupPass(session, dir.toString, s"pass${untraced.length}", plans = false, errors)
      heap.maybeRead()
    }
    if (cfg.trace) {
      val log = new TaskLog
      spark.sparkContext.addSparkListener(log)
      val tracer = new Tracer(true)
      val resident = mutable.ArrayBuffer[Double]()
      while (System.nanoTime() < deadline || traced.isEmpty) {
        val i = traced.length
        val sp = tracer.begin("ops.pass", -1, i)
        session = spark.newSession()
        val p = dedupPass(session, dir.toString, s"traced$i", plans = true, errors)
        val end = tracer.end(sp)
        var t = end - (p.seconds.values.sum * 1e9).toLong
        for (q <- DedupQueries) {
          val d = (p.seconds(q) * 1e9).toLong
          tracer.record(s"ops.query.$q", t, t + d, sp, i)
          t += d
        }
        DedupQueries.foreach(q => log.await(spark.sparkContext, s"traced$i/$q"))
        traced += p
        resident += spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
        heap.maybeRead()
      }
      for (q <- DedupQueries) {
        res.put(s"ops.query_s.$q", Stats.median(traced.map(_.seconds(q)).toSeq), "s")
        traced.last.exchanges.get(q) match {
          case Some(n) => res.put(s"ops.exchanges.$q", n.toDouble, "count")
          case None => res.unmeasured(s"ops.exchanges.$q", "count", s"$q failed: ${errors.getOrElse(q, "")}")
        }
      }
      val (first, reuse) = DedupQueries.partition(MemoFirst)
      def meanOf(qs: Seq[String]) = Stats.median(traced.map(p => qs.map(p.seconds).sum / qs.length).toSeq)
      res.put("ops.memo_first_s", meanOf(first), "s")
      res.put("ops.memo_reuse_s", meanOf(reuse), "s")
      res.put("ops.resident_mb", resident.max, "MB")
      putTaskMetrics(res, log, "traced", traced.length, DedupDocs)
      val passS = (ps: Iterable[PassOut]) => Stats.median(ps.map(_.seconds.values.sum).toSeq)
      res.put("trace.overhead_frac", passS(traced) / passS(untraced) - 1, "ratio")
      res.info("self_ms") = tracer.selfTimes.map { case (k, v) => k -> v / 1e6 }
      tracer.writeTo(cfg.workDir.resolve(s"trace-${cfg.workload}-${cfg.seed}.tsv"))
      spark.sparkContext.removeSparkListener(log)
    }
    heap.read()
    putPassMetrics(res, untraced.map(_.seconds.values.sum).toSeq, DedupDocs, textBytes)
    res.info("query_s") = DedupQueries.map(q => q -> Stats.median(untraced.map(_.seconds(q)).toSeq)).toMap
    res.put("heap_live_mb", heap.maxMb, "MB")

    // untimed: write each query's output once for the DuckDB oracle replay,
    // and hand over every pass's row counts to compare against it. The
    // last pass's session is reused, so its memos serve the rewrite.
    val c0 = System.nanoTime()
    val checkSession = session
    val checkDir = dir.resolve("check")
    val queries = mutable.LinkedHashMap[String, Any]()
    for (q <- DedupQueries) {
      val out = checkDir.resolve(q).toString
      try SparkEntry.queries(q)(checkSession, dir.toString).write.mode("overwrite").parquet(out)
      catch { case e: Exception => errors(q) = e.toString }
      queries(q) = mutable.LinkedHashMap(
        "oracle_sql" -> SparkEntry.oracleSql(q),
        "output" -> out,
        "rows" -> (untraced ++ traced).map(_.rows(q)).toSeq)
    }
    res.info("check_s") = (System.nanoTime() - c0) / 1e9
    val passes = untraced.length + traced.length
    res.attempted = passes.toLong * DedupQueries.length
    res.failed = (untraced ++ traced).map(_.rows.values.count(_ < 0)).sum.toLong
    res.checks("oracle_replay") = mutable.LinkedHashMap(
      "documents" -> docsPath, "queries" -> queries)
    if (errors.nonEmpty) res.checks("errors") = errors
    spark.stop()
    res
  }
}
