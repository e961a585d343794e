package perfbench

/** Order statistics used by every reported timing. */
object Stats {
  /** Nearest-rank percentile `p` (0 < p <= 100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile out of range: $p")
    val s = xs.sorted
    s(math.max(1, rank(p, s.size)) - 1)
  }

  /** Nearest rank: the smallest r with r >= p% of n (up to rounding error). */
  private def rank(p: Double, n: Int): Int = math.ceil(p / 100.0 * n - 1e-9).toInt

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Percentiles a tail may be reported at, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest percentile of [[TailLadder]] that has at least `beyond`
    * samples above it among `n`, or None when even the median lacks them.
    * A p90 therefore needs 100 samples, a p75 40 and a p50 20. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    TailLadder.find(p => n - rank(p, n) >= beyond)

  /** (percentile, value) of the reportable tail of `xs`. With too few
    * samples for the rule, the median stands in and the percentile reads 50. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = tailPercentile(xs.size).getOrElse(50.0)
    (p, percentile(xs, p))
  }
}
