package graft.perfbench

/** Order statistics for the timing samples. */
object Stats {

  /** Linear-interpolated percentile (`p` in [0, 100]) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** NaN for no samples: a run whose every operation failed has no
    * timing to report. */
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else percentile(xs, 50)

  /** The highest of the usual reporting percentiles that still has at
    * least `beyond` samples above it in `n` samples, if any does. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] =
    Seq(99, 95, 90, 75).find(p => math.floor(n * (100 - p) / 100.0) >= beyond)
}
