package graft.perfbench

/** Order statistics for the benchmark's timings. */
object Stats {

  /** Fewest samples that must lie above a reported percentile. */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank `q`-quantile of `values`, each counted `weights(i)`
    * times. Refused (Left, with the reason) unless at least [[MinBeyond]]
    * samples lie beyond it: a p99 needs 1,000 samples, a p50 twenty.
    */
  def percentile(values: Seq[Double], weights: Seq[Long], q: Double): Either[String, Double] = {
    require(values.length == weights.length && q > 0 && q < 1)
    val n = weights.sum
    val rank = math.ceil(q * n).toLong.max(1L)
    val beyond = n - rank
    if (beyond < MinBeyond)
      Left(f"p${q * 100}%.0f needs $MinBeyond samples beyond it; $n samples leave $beyond")
    else {
      val sorted = values.zip(weights).sortBy(_._1)
      var seen = 0L
      var i = 0
      while (seen + sorted(i)._2 < rank) { seen += sorted(i)._2; i += 1 }
      Right(sorted(i)._1)
    }
  }

  def percentile(values: Seq[Double], q: Double): Either[String, Double] =
    percentile(values, Seq.fill(values.length)(1L), q)
}
