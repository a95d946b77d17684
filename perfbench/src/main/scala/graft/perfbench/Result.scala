package graft.perfbench

import scala.collection.mutable

/** What one run hands back: outputs attempted/failed, the checks that
  * produced those counts, and every metric it measured. A metric the run
  * could not measure is recorded with the reason, never left out.
  */
final class Result(val workload: String) {
  var attempted = 0L
  var failed = 0L
  val checks = mutable.LinkedHashMap[String, Any]()
  val info = mutable.LinkedHashMap[String, Any]()
  private val metrics = mutable.LinkedHashMap[String, (Option[Double], String, String)]()

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (Some(value), unit, null)

  def unmeasured(name: String, unit: String, reason: String): Unit =
    metrics(name) = (None, unit, reason)

  def put(name: String, value: Either[String, Double], unit: String): Unit =
    value match {
      case Right(v) => put(name, v, unit)
      case Left(reason) => unmeasured(name, unit, reason)
    }

  def toJson(trace: Boolean, host: Map[String, Any]): String = Json.write(mutable.LinkedHashMap(
    "workload" -> workload,
    "trace" -> trace,
    "attempted" -> attempted,
    "failed" -> failed,
    "checks" -> checks,
    "host" -> host,
    "info" -> info,
    "metrics" -> metrics.map { case (k, (v, unit, reason)) =>
      k -> (mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> unit) ++
        (if (reason == null) Nil else Seq("reason" -> reason)))
    }))
}

/** Parsed command line of the benchmark main. */
final case class Config(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    /** Wall-clock (epoch ms) at which the process was launched. */
    launchedAtMs: Long,
    workDir: java.nio.file.Path) {
  def deadlineAfter(startNs: Long, fraction: Double = 1.0): Long =
    startNs + (seconds * fraction * 1e9).toLong
}
