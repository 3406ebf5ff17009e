package perfbench

/** Order statistics used for every reported timing. */
object Stats {
  /** Linear-interpolated percentile `p` (0–100) of `xs` — the same
    * rule as numpy's default and Python's `statistics.quantiles(...,
    * method="inclusive")`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p out of range")
    val s = xs.sorted
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest whole percentile that still has at least `beyond`
    * samples above it among `n` samples, or None when even the median
    * has fewer than `beyond` samples above it. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] =
    (100 to 50 by -1).find(p => n * (100 - p) >= beyond * 100)
}
