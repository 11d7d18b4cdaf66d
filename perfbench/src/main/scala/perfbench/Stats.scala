package perfbench

/** Order statistics over per-operation walls. */
object Stats {

  /** Linear-interpolated percentile `p` (0..100) of `xs`; NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p / 100.0 * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** The tail rule: the highest order statistic that still has at least
    * `beyond` samples above it, never below the median. Returns
    * (value, percentile of that order statistic). With `beyond` or fewer
    * samples no order statistic qualifies, and the tail is the maximum
    * (percentile 100). */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (Double.NaN, Double.NaN)
    else if (n <= beyond) (s(n - 1), 100.0)
    else {
      val k = math.max(n - 1 - beyond, n / 2)
      (s(k), 100.0 * k / (n - 1))
    }
  }
}
