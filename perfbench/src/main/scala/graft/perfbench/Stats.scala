package graft.perfbench

/** Order statistics and the result line. */
object Stats {

  /** Nearest-rank percentile (`p` in 0..100) of a non-empty sample. */
  def percentile(xs: collection.Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(s.length - 1, math.max(0, rank - 1)))
  }

  def median(xs: collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The percentiles a timing may be reported at. */
  val Reportable: Seq[Double] = Seq(50, 75, 90, 95, 99, 99.9)

  /** The highest reportable percentile that still has at least ten
    * samples beyond it, or None when even the median has fewer. */
  def tailPercentile(n: Int): Option[Double] =
    Reportable.filter(p => math.floor(n * (1 - p / 100.0) + 1e-9) >= 10).lastOption

  val MetricName = "[A-Za-z0-9_.-]+".r

  def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString

  /** The last line of the benchmark's standard output. */
  def resultJson(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String = {
    metrics.foreach { case (n, v, _) =>
      require(MetricName.matches(n), s"bad metric name $n")
      require(!v.isNaN && !v.isInfinite, s"metric $n is not a number: $v")
    }
    val ms = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}
