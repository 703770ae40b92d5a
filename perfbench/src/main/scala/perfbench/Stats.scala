package perfbench

/** Order statistics for the benchmark's timings. */
object Stats {

  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Samples strictly beyond the p-th percentile rank: the ones a
    * percentile at `p` leaves in the tail. */
  def beyond(n: Int, p: Int): Int = n - math.ceil(n * p / 100.0).toInt

  /** The p-th percentile, refused when fewer than ten samples lie
    * beyond it: a tail read from fewer samples is one outlier's value. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(p > 0 && p < 100, s"percentile $p outside (0, 100)")
    require(beyond(xs.length, p) >= 10,
      s"p$p of ${xs.length} samples has ${beyond(xs.length, p)} beyond it; need >= 10")
    quantile(xs, p / 100.0)
  }

  /** The highest whole percentile with at least ten samples beyond it,
    * or None when the sample is too small for any (fewer than 20). */
  def tailPercentile(n: Int): Option[Int] =
    (99 to 50 by -1).find(p => beyond(n, p) >= 10)
}
