package perfbench

/** Summary statistics for timed samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Nearest-rank percentile, `p` in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100 * s.length).toInt - 1)))
  }

  val ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest percentile of [[ladder]] that `n` samples support: one with
    * at least 10 samples beyond it, so a single outlier cannot set it.
    * None when even the median has fewer than 10 samples above it.
    */
  def supportedPercentile(n: Int): Option[Double] =
    ladder.find(p => n * (1 - p / 100) >= 10 - 1e-9)

  /** Median, the highest supported percentile (if any) and the count. */
  final case class Summary(n: Int, median: Double, tail: Option[(Double, Double)])

  def summary(xs: Seq[Double]): Summary =
    Summary(xs.length, median(xs), supportedPercentile(xs.length).map(p => p -> percentile(xs, p)))
}
