package graft

import org.apache.spark.sql.SparkSession

/** Driver-contention probe for d8 (round-5 verdict ask #5): the iterative
  * connected-component queries are the ones a contended DRIVER multiplies
  * (each convergence round is a driver-sequenced job), and BENCH_r05
  * recorded d8 at 36 s in a contended window vs 2.5 s in round 4 on
  * UNCHANGED code. This probe measures the sensitivity directly, and the
  * effect of the round-6 pairs memo on it:
  *
  *   - memoized  (production shape: the pair list was computed once by an
  *     earlier consumer — d8 re-runs are the clustering rounds only)
  *   - unmemoized (pairs recomputed from text per run, the round-5 shape)
  *
  * each measured quiet and under `spin` busy-spin threads saturating the
  * JVM's cores (the in-process analog of a loaded driver host: the spin
  * threads compete with the driver's job-scheduling path AND the local
  * executors, like a co-tenant workload does).
  *
  * Usage: Test/runMain graft.D8LoadProbe [sfDir] [cores] [spin] [reps]
  * Run exclusively; pin with taskset for stable numbers.
  */
object D8LoadProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val cores = if (args.length > 1) args(1).toInt else 8
    val spin = if (args.length > 2) args(2).toInt else 8
    val reps = if (args.length > 3) args(3).toInt else 3
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.spark.ops.DedupOps

    def base = DedupOps.withVariants(spark, sfDir)

    def runD8(): Long =
      DedupOps.clusterIdsStar(base, DedupOps.minhashLshPairs(base, 0.6)).count()

    def bestOf(n: Int)(f: => Long): Double = {
      var best = Double.MaxValue
      var i = 0
      while (i < n) {
        val t0 = System.nanoTime()
        f
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        i += 1
      }
      best
    }

    def withLoad[A](f: => A): A = {
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val threads = Array.tabulate(spin) { i =>
        val t = new Thread(() => {
          var x = i.toLong
          while (!stop.get()) x = x * 6364136223846793005L + 1442695040888963407L
          if (x == 42L) println("") // keep the loop observable
        })
        t.setDaemon(true); t.start(); t
      }
      try f finally { stop.set(true); threads.foreach(_.join(1000)) }
    }

    // warm: JIT + codegen + (memoized mode) the pairs cache
    runD8(); runD8()

    val memoQuiet = bestOf(reps)(runD8())
    val memoLoaded = withLoad(bestOf(reps)(runD8()))

    def unmemo(): Long = { DedupOps.clearMemos(); runD8() }
    unmemo() // warm the unmemoized path once
    val rawQuiet = bestOf(reps)(unmemo())
    val rawLoaded = withLoad(bestOf(reps)(unmemo()))

    println(f"[d8probe] cores=$cores spin=$spin reps=$reps sf=$sfDir")
    println(f"[d8probe] memoized   quiet=$memoQuiet%6.2f s  loaded=$memoLoaded%6.2f s  ratio=${memoLoaded / memoQuiet}%5.2f")
    println(f"[d8probe] unmemoized quiet=$rawQuiet%6.2f s  loaded=$rawLoaded%6.2f s  ratio=${rawLoaded / rawQuiet}%5.2f")
    spark.stop()
  }
}
