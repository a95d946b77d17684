package graft.perfbench

import graft.core.{AttrList, IntBuf, LexemeSink, Lexer}
import graft.extract.{ExtractPolicy, Extractor}
import graft.rewrite.{ElementHandlers, Rewriter}
import scala.collection.mutable

/** Per-layer probe for one document: lexes it with a null sink, runs a
  * match-only [[Rewriter]] over the workload's selectors, and leaves the
  * workload's own call to the caller. Counters accumulate across
  * documents; one probe per thread.
  */
final class LayerProbe(selectors: Seq[String]) {
  private val lexer = new Lexer(strict = false)
  var tags = 0L
  private val sink = new LexemeSink {
    def onText(s: Int, e: Int, t: Int): Unit = ()
    def onStartTag(ns: Int, ne: Int, h: Long, n: Int, sc: Boolean,
                   a: AttrList, rs: Int, re: Int): Unit = tags += 1
    def onEndTag(ns: Int, ne: Int, h: Long, rs: Int, re: Int): Unit = tags += 1
    def onComment(ts: Int, te: Int, rs: Int, re: Int): Unit = ()
    def onDoctype(a: Int, b: Int, c: Boolean, d: Int, e: Int, f: Boolean,
                  g: Int, h: Int, i: Boolean, j: Boolean, k: Int, l: Int): Unit = ()
    def onRawWithoutToken(rs: Int, re: Int): Unit = ()
    def onEof(p: Int): Unit = ()
  }
  var matches = 0L
  private val counting = ElementHandlers(element = _ => matches += 1)
  private val matcher =
    new Rewriter(selectors.map(_ -> counting), strict = false, produceOutput = false)

  var lexNs = 0L
  var matchNs = 0L

  /** Lex then match `doc(0 until len)`. */
  def probe(doc: Array[Byte], len: Int, tracer: Tracer, parent: Int, key: Long): Unit = {
    val s1 = tracer.begin("core.lex", parent, key)
    val t0 = System.nanoTime()
    lexer.parse(doc, len, sink, null)
    val t1 = tracer.end(s1)
    val s2 = tracer.begin("selectors.match", parent, key)
    val t2 = System.nanoTime()
    try matcher.rewriteToBytes(doc, len)
    catch { case _: Exception => () } // bail-outs are counted on the real call
    val t3 = tracer.end(s2)
    lexNs += t1 - t0
    matchNs += t3 - t2
  }
}

/** The single-caller engine workloads over the large-document pool:
  * `engine_large` (`Extractor.extractRaw`, default policy) and
  * `rewrite_large` (a mutating `Rewriter` with output on).
  */
object EngineBench {

  /** The reference's rewriting bench (body rename + append, ul inner
    * content removal) plus an `[href]` attribute rewrite, which makes the
    * attribute-skipping scan mode ineligible.
    */
  val RewriteSelectors = Seq("body", "ul", "[href]")

  def newRewriter(): Rewriter = new Rewriter(Seq(
    "body" -> ElementHandlers(element = el => {
      el.setTagName("div")
      el.append("<!--appended-->")
    }),
    "ul" -> ElementHandlers(element = el => el.setInnerContent("")),
    "[href]" -> ElementHandlers(element = el =>
      el.setAttribute("href", "https://mirror.example/?u=" + el.attr("href")))),
    strict = false)

  /** The workload's own call on one document, behind one interface:
    * `run` returns the output's digest and leaves the output's size and
    * error (if any) of that call readable.
    */
  private trait Engine {
    def run(doc: Array[Byte]): Long
    var outLen = 0
    var error: String = null
  }

  private final class ExtractEngine extends Engine {
    private val ex = new Extractor(ExtractPolicy.Default)
    private val noMedia = new IntBuf(1)
    def run(doc: Array[Byte]): Long = {
      val r = ex.extractRaw(doc, doc.length, noMedia)
      outLen = r.count
      error = r.error
      Pool.spansDigest(r)
    }
  }

  private final class RewriteEngine extends Engine {
    private val rw = newRewriter()
    def run(doc: Array[Byte]): Long = {
      val out = rw.rewriteToBytes(doc)
      outLen = out.length
      Pool.bytesDigest(out)
    }
  }

  /** Regenerate the stored per-item digests from the current code. */
  def digestLines(): Seq[String] = {
    val ex = new ExtractEngine
    val rw = new RewriteEngine
    Pool.items.map(it => Pool.digestLine(it, ex.run(it.bytes), rw.run(it.bytes)))
  }

  /** The engine's error reasons (the error string up to its first `:`). */
  val ErrorReasons: Seq[String] =
    Seq("parsing_ambiguity", "max_template_nesting", "memory_limit_exceeded", "engine_error")

  /** One caller thread's closed loop over its own engine and draw, with
    * its own counters, probe and spans.
    */
  private final class Caller(engine: Engine, draws: Array[Int], pool: IndexedSeq[PoolItem],
                             expected: Map[String, Pool.Expected], rewrite: Boolean, trace: Boolean) {
    val tracer = new Tracer(trace)
    val probe: LayerProbe =
      if (trace) new LayerProbe(if (rewrite) RewriteSelectors else ExtractPolicy.DefaultStrip) else null
    val lat = new Array[Double](draws.length)
    var n = 0
    var bytes, callNs, failed = 0L
    var untracedDocs = 0
    var untracedWallNs, tracedWallNs, primaryNs, allocB, outB = 0L
    val errors = mutable.LinkedHashMap[String, Long]()
    val classNs, classBytes = mutable.HashMap[String, Long]().withDefaultValue(0L)
    var exception: String = _

    /** Untraced calls until `tracedFrom`, traced ones until `deadline`. */
    def loop(start: Long, tracedFrom: Long, deadline: Long): Unit = {
      var now = start
      while (now < deadline && n < draws.length) {
        val it = pool(draws(n))
        val traced = now >= tracedFrom
        val docSpan = if (traced) tracer.begin("doc", -1, n) else -1
        if (traced) probe.probe(it.bytes, it.bytes.length, tracer, docSpan, n)
        val a0 = if (traced) Host.allocatedBytes() else 0L
        val sp = tracer.begin(if (rewrite) "rewrite.rewriteToBytes" else "extract.extractRaw", docSpan, n)
        val t0 = System.nanoTime()
        val digest =
          try engine.run(it.bytes)
          catch { case e: Exception => exception = e.toString; 0L }
        val t1 = tracer.end(sp)
        if (!Pool.matches(expected, it, digest, rewrite)) failed += 1
        if (traced) {
          allocB += Host.allocatedBytes() - a0
          primaryNs += t1 - t0
          classNs(it.sizeClass) += t1 - t0
          classBytes(it.sizeClass) += it.bytes.length
          outB += engine.outLen
          if (engine.error != null) {
            val reason = engine.error.takeWhile(_ != ':')
            errors(reason) = errors.getOrElse(reason, 0L) + 1
          }
          tracer.end(docSpan)
        }
        lat(n) = (t1 - t0) / 1e6
        callNs += t1 - t0
        bytes += it.bytes.length
        n += 1
        val after = System.nanoTime()
        if (traced) tracedWallNs += after - now
        else { untracedWallNs += after - now; untracedDocs += 1 }
        now = after
      }
    }
  }

  /** Runs `f(0) .. f(n - 1)` on `n` threads and waits for all of them. */
  private def parallel(n: Int)(f: Int => Unit): Unit = {
    val ts = (0 until n).map(t => new Thread(() => f(t), s"perfbench-caller-$t"))
    ts.foreach(_.start())
    ts.foreach(_.join())
  }

  def run(cfg: Config): Result = {
    val rewrite = cfg.workload == "rewrite_large"
    val res = new Result(cfg.workload)
    val threads = Host.Slots

    // ---- inputs (timed apart from set-up): one seeded draw per caller ----
    val g0 = System.nanoTime()
    val pool = Pool.items
    val expected = Pool.expected()
    val draws = (0 until threads).map(t => Pool.draw(cfg.seed * threads + t, 1 << 17))
    val genS = (System.nanoTime() - g0) / 1e9
    res.info("inputs_s") = genS
    res.info("pool_items") = pool.length
    res.info("pool_bytes") = pool.map(_.bytes.length.toLong).sum
    res.info("callers") = threads

    // ---- set-up, seven times: compile the workload's selectors for every
    // caller and warm each caller's engine with two passes over the pool,
    // callers in parallel; the first rep counts from process launch. The
    // JIT settles within the first two or three reps, so the median is a
    // settled rep ----
    def newEngine(): Engine = if (rewrite) new RewriteEngine else new ExtractEngine
    val setupS = new Array[Double](7)
    val compileMs = new Array[Double](7)
    var engines: IndexedSeq[Engine] = null
    for (rep <- setupS.indices) {
      val t0 = System.nanoTime()
      engines = (0 until threads).map(_ => newEngine())
      compileMs(rep) = (System.nanoTime() - t0) / 1e6 / threads
      parallel(threads) { t => for (_ <- 0 until 2; it <- pool) engines(t).run(it.bytes) }
      setupS(rep) =
        if (rep == 0) (System.currentTimeMillis() - cfg.launchedAtMs) / 1e3 - genS
        else (System.nanoTime() - t0) / 1e9
    }
    res.put("setup_s", Stats.median(setupS.toSeq), "s")
    res.info("setup_reps_s") = setupS.toSeq
    res.put("selectors.compile_ms", Stats.median(compileMs.toSeq), "ms")

    // ---- timed: the callers run concurrently. The live heap is read
    // before and after (the engines hold no state that grows); a traced
    // run first measures an untraced stretch, a third of its time, so the
    // tracing overhead is read in the same process ----
    val heap = new HeapGauge()
    heap.read()
    val callers = (0 until threads).map(t =>
      new Caller(engines(t), draws(t), pool, expected, rewrite, cfg.trace))
    val start = System.nanoTime()
    val tracedFrom = if (cfg.trace) cfg.deadlineAfter(start, 1.0 / 3) else Long.MaxValue
    val deadline = cfg.deadlineAfter(start)
    parallel(threads)(t => callers(t).loop(start, tracedFrom, deadline))
    heap.read()

    val n = callers.map(_.n).sum
    val failed = callers.map(_.failed).sum
    res.attempted = n
    res.failed = failed
    res.checks("digests") = s"${n - failed}/$n calls matched the stored per-item digest"
    callers.flatMap(c => Option(c.exception)).headOption.foreach(e => res.checks("exception") = e)
    res.info("samples") = n

    // rates: each caller's documents over its time inside the call, summed
    // over the concurrent callers
    val lats = callers.flatMap(c => c.lat.take(c.n))
    res.put("docs_per_s", callers.map(c => c.n / (c.callNs / 1e9)).sum, "docs/s")
    res.put("mb_per_s", callers.map(c => c.bytes / 1e6 / (c.callNs / 1e9)).sum, "MB/s")
    res.put("doc_ms_p50", Stats.percentile(lats, 0.5), "ms")
    res.put("doc_ms_p99", Stats.percentile(lats, 0.99), "ms")
    res.put("heap_live_mb", heap.maxMb, "MB")

    if (cfg.trace) {
      def sum(f: Caller => Long): Long = callers.map(f).sum
      val tracedDocs = n - callers.map(_.untracedDocs).sum
      val tracedBytes = callers.map(_.classBytes.values.sum).sum
      val mb = tracedBytes / 1e6
      val lexNs = sum(_.probe.lexNs)
      val matchNs = sum(_.probe.matchNs)
      res.put("core.lex_ms_per_mb", lexNs / 1e6 / mb, "ms/MB")
      res.put("core.tags_per_mb", sum(_.probe.tags) / mb, "count/MB")
      res.put("selectors.match_self_ms_per_mb", (matchNs - lexNs) / 1e6 / mb, "ms/MB")
      res.put("selectors.matches_per_doc", sum(_.probe.matches).toDouble / tracedDocs, "count")
      val primaryMsPerMb = (sum(_.primaryNs) - matchNs) / 1e6 / mb
      if (rewrite) {
        res.put("rewrite.serialize_self_ms_per_mb", primaryMsPerMb, "ms/MB")
        res.put("rewrite.out_b_per_in_b", sum(_.outB).toDouble / tracedBytes, "B/B")
        res.put("rewrite.alloc_b_per_in_b", sum(_.allocB).toDouble / tracedBytes, "B/B")
      } else {
        res.put("extract.self_ms_per_mb", primaryMsPerMb, "ms/MB")
        res.put("extract.alloc_b_per_in_b", sum(_.allocB).toDouble / tracedBytes, "B/B")
        res.put("extract.spans_per_doc", sum(_.outB).toDouble / tracedDocs, "count")
        for (c <- Pool.SizeClasses) {
          val b = sum(_.classBytes(c))
          if (b > 0) res.put(s"extract.ms_per_mb.$c", sum(_.classNs(c)) / 1e6 / (b / 1e6), "ms/MB")
          else res.unmeasured(s"extract.ms_per_mb.$c", "ms/MB", s"no $c document drawn")
        }
        for (r <- ErrorReasons)
          res.put(s"extract.errors.$r", callers.map(_.errors.getOrElse(r, 0L)).sum.toDouble / tracedDocs, "1/doc")
      }
      val untracedRate = callers.map(c => c.untracedDocs / (c.untracedWallNs / 1e9)).sum
      val tracedRate = callers.map(c => (c.n - c.untracedDocs) / (c.tracedWallNs / 1e9)).sum
      res.put("trace.overhead_frac", untracedRate / tracedRate - 1, "ratio")
      res.info("self_ms") = callers.flatMap(_.tracer.selfTimes).groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2).sum / 1e6 }
      for ((c, t) <- callers.zipWithIndex)
        c.tracer.writeTo(cfg.workDir.resolve(s"trace-${cfg.workload}-${cfg.seed}-t$t.tsv"))
      res.info("spans") = callers.map(_.tracer.size).sum
    }
    res
  }
}
