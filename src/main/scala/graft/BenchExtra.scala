package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.spark.ops._

/** Round-7 optimization harness (guide §1.4): isolates the expensive
  * sub-plans of the declared queries with the noop sink so the
  * computation is timed without the sink, and times declared queries
  * with the EXACT Bench methodology (toRdd.count, cold + steady) for
  * before/after comparisons without running the whole frozen bench.
  *
  * This main is NOT part of the driver contract — Bench.scala is the
  * frozen official harness; numbers from here are cited in
  * OPTIMIZATION_r07.md only.
  *
  * Usage:
  *   runMain graft.BenchExtra q <queryName>...   — Bench-style cold+steady
  *   runMain graft.BenchExtra iso <caseName>...  — noop-sink isolation
  *   runMain graft.BenchExtra iso                — all isolation cases
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32).
  */
object BenchExtra {

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = session(cpus)
    val mode = if (args.nonEmpty) args(0) else "iso"
    val names = args.drop(1).toSeq

    mode match {
      case "q" =>
        // Bench-style: cold + steady per declared query, same action
        val sel = if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted
        sel.foreach { name =>
          val fn = SparkEntry.queries(name)
          spark.sparkContext.setJobDescription(s"q:$name cold")
          val cold = time(fn(spark, sfDir).queryExecution.toRdd.count())
          spark.sparkContext.setJobDescription(s"q:$name steady")
          val steady = time(fn(spark, sfDir).queryExecution.toRdd.count())
          println(f"QUERY $name%-28s cold=$cold%7.2f steady=$steady%7.2f")
        }
      case "iso" =>
        val cases: Seq[(String, () => DataFrame)] = Seq(
          // multimodal asset GENERATION alone (no probe/decode)
          "mgen_fake" -> (() => MultimodalOps.assets(spark, sfDir)),
          "mgen_png" -> (() => MultimodalOps.pngAssets(spark, sfDir)),
          "mgen_jpeg" -> (() => MultimodalOps.jpegAssets(spark, sfDir)),
          "mgen_gif" -> (() => MultimodalOps.gifAssets(spark, sfDir)),
          "mgen_wav" -> (() => MultimodalOps.wavAssets(spark, sfDir)),
          "mgen_mixed" -> (() => MultimodalOps.mixedAssets(spark, sfDir)),
          // d4's sketch pass alone
          "d4_sketch" -> (() => DedupOps.simhashSketch(DedupOps.withVariants(spark, sfDir))),
          // minhash pair list, cold (caches cleared first)
          "pairs_cold" -> (() => {
            DedupOps.clearMemos()
            DedupOps.minhashLshPairs(DedupOps.withVariants(spark, sfDir), 0.6)
          }),
          // CC over memoized pairs (pairs warm after pairs_cold)
          "ccstar_warm" -> (() => {
            val base = DedupOps.withVariants(spark, sfDir)
            DedupOps.clusterIdsStar(base, DedupOps.minhashLshPairs(base, 0.6))
          }),
          // token explode + count agg (the t13/t14/t15/t17 map side)
          "toks_agg" -> (() => {
            spark.read.parquet(s"$sfDir/documents.parquet")
              .select(explode(filter(split(col("text"), "\\s+"), x => x =!= "")).as("token"))
              .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
          }),
          // d11/d15 gram generation side
          "d11_full" -> (() => {
            val docs = spark.read.parquet(s"$sfDir/documents.parquet")
            val benchmark = docs.where(pmod(col("doc_id"), lit(50L)) === 0)
              .select(col("doc_id"), col("text"))
            DedupOps.decontaminate(DedupOps.withVariants(spark, sfDir), benchmark)
          })
        )
        val sel = if (names.nonEmpty) cases.filter(c => names.contains(c._1)) else cases
        sel.foreach { case (name, mk) =>
          spark.sparkContext.setJobDescription(s"iso:$name cold")
          val cold = time(noop(mk()))
          spark.sparkContext.setJobDescription(s"iso:$name steady")
          val steady = time(noop(mk()))
          println(f"ISO $name%-16s cold=$cold%7.2f steady=$steady%7.2f")
        }
      case "plan" =>
        // dump .explain("formatted") for the named declared queries
        val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "/root/repo/plans/r07")
        new java.io.File(outDir).mkdirs()
        val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
        val sel = if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted
        sel.foreach { name =>
          val df = SparkEntry.queries(name)(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
            plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"PLAN $name -> $outDir/${name}_$suffix.txt")
        }
      case other =>
        System.err.println(s"unknown mode $other (use q | iso | plan)")
    }
    spark.stop()
  }
}
