package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Tail percentiles the benchmark may report, highest first. */
  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Samples needed beyond a tail percentile before it is reported. */
  val MinBeyond = 10

  private def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it.
    */
  def percentile(samples: Seq[Double], p: Double): Double = {
    require(samples.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    samples.sorted.apply(rank(samples.size, p) - 1)
  }

  def median(samples: Seq[Double]): Double = percentile(samples, 50.0)

  /** Samples strictly beyond the nearest-rank p-th percentile of n. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** Whether n samples support reporting the p-th percentile. */
  def supports(n: Int, p: Double): Boolean = n > 0 && beyond(n, p) >= MinBeyond

  /** The highest percentile of [[Ladder]] that n samples support. */
  def highestTail(n: Int): Option[Double] = Ladder.find(supports(n, _))
}
