package perfbench

/** Order statistics for the end-to-end metrics.
  *
  * Percentiles use the nearest-rank rule, so every reported value is one
  * that was actually measured, and "samples beyond" is exact: the p-th
  * percentile of n samples sits at rank ceil(p·n), and n − ceil(p·n)
  * samples lie above it. A percentile is only backed by the data when at
  * least [[MinBeyond]] samples lie beyond it. */
object Stats {
  val MinBeyond = 10

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 1, s"percentile $p outside (0, 1]")
    val s = xs.sorted
    s(math.max(1, math.ceil(p * s.size - 1e-9).toInt) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** The median, or 0 for a layer the run did not reach. */
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** Samples ranked strictly above the p-th percentile of n samples. */
  def beyond(n: Int, p: Double): Int =
    n - math.max(1, math.ceil(p * n - 1e-9).toInt)

  /** True when n samples back the p-th percentile. */
  def backed(n: Int, p: Double): Boolean = n > 0 && beyond(n, p) >= MinBeyond
}
