package perfbench

/** Order statistics over measured samples. Percentiles interpolate
  * linearly between closest ranks (the common "type 7" definition,
  * numpy's default), so p50 of an even-sized sample is the mean of
  * the two middle values. */
object Stats {
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p out of range")
    val s = xs.sorted
    val h = (s.size - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** p50/p99 of a sample, or 0 when it is empty — for per-layer
    * counters on workloads that never exercise the layer. */
  def p(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else percentile(xs, q)
}
