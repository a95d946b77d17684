package graft.perfbench

/** Benchmark entry point, launched by `perfbench/run.py`:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --launched-at-ms <epoch ms> --work-dir <dir>
  * Main --write-digests <file>
  * }}}
  *
  * The first form runs one workload and prints one line starting with
  * `PERFBENCH_RESULT ` followed by the run's JSON (see [[Result]]). The
  * second regenerates the stored per-item digests of the large-document
  * pool from the current code.
  */
object Main {
  val Workloads = Seq("table_small", "engine_large", "rewrite_large", "dedup_memo")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opts.get("write-digests") match {
      case Some(path) =>
        val lines = "# pool item\tbytes\textractRaw span digest\trewrite output digest" +: EngineBench.digestLines()
        java.nio.file.Files.write(java.nio.file.Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
        return
      case None => ()
    }
    val cfg = Config(
      workload = opts("workload"),
      seed = opts("seed").toLong,
      seconds = opts("seconds").toDouble,
      trace = opts.getOrElse("trace", "0") == "1",
      launchedAtMs = opts.get("launched-at-ms").map(_.toLong).getOrElse(System.currentTimeMillis()),
      workDir = java.nio.file.Paths.get(opts("work-dir")).toAbsolutePath)
    require(Workloads.contains(cfg.workload), s"unknown workload ${cfg.workload}")
    java.nio.file.Files.createDirectories(cfg.workDir)
    val before = Host.facts()
    val res = cfg.workload match {
      case "table_small" => SparkBench.tableSmall(cfg)
      case "dedup_memo" => SparkBench.dedupMemo(cfg)
      case _ => EngineBench.run(cfg)
    }
    val host = before ++ Map(
      "load_average_1m_after" -> java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage)
    println("PERFBENCH_RESULT " + res.toJson(cfg.trace, host))
    System.out.flush()
  }
}
