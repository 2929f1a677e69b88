package etlbench

/** Order statistics used for every reported timing. */
object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** Linear interpolation between closest ranks (numpy's default and
    * Python's `statistics.quantiles(..., method="inclusive")`).
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
