package perfbench

/** Order statistics used for every reported latency. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p` percent
    * of the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val sorted = xs.sorted
    sorted(math.max(1, math.ceil(p / 100.0 * sorted.size).toInt) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Number of samples strictly above the nearest-rank `p` percentile. */
  def beyond(n: Int, p: Double): Int =
    n - math.max(1, math.ceil(p / 100.0 * n).toInt)

  val ladder: Seq[Double] = Seq(99, 95, 90, 75, 50)

  /** Samples a tail percentile must leave above it. */
  val MinBeyond = 10

  /** The highest percentile of [[ladder]] that still leaves at least
    * [[MinBeyond]] samples above it, so a tail figure is never set by one or
    * two outliers. With 164 samples this is p90 (16 beyond, p95 would
    * leave 8).
    */
  def tailPercentile(n: Int): Option[Double] =
    ladder.find(p => beyond(n, p) >= MinBeyond)
}
