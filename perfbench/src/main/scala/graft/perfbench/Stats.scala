package graft.perfbench

/** Order statistics for the benchmark's timings. A tail percentile is
  * reported only when at least [[MinBeyond]] samples lie beyond it, so a
  * p95 needs 200 samples; below that the helper refuses instead of
  * returning the maximum under another name. */
object Stats {
  val MinBeyond = 10

  /** Samples a run needs for percentile `p` (0 < p < 100). */
  def samplesFor(p: Double): Int = math.ceil(MinBeyond / (1 - p / 100.0) - 1e-9).toInt

  /** Linear interpolation between closest ranks (numpy's default). */
  private def interpolate(sorted: Array[Double], q: Double): Double = {
    val pos = q * (sorted.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, sorted.length - 1)
    sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
  }

  def median(xs: Iterable[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    interpolate(xs.toArray.sorted, 0.5)
  }

  def percentile(xs: Iterable[Double], p: Double): Double = {
    require(p > 0 && p < 100, s"percentile $p out of (0, 100)")
    val n = xs.size
    require(n >= samplesFor(p),
      f"p$p%.0f needs at least $MinBeyond samples beyond it (${samplesFor(p)} in all); got $n")
    interpolate(xs.toArray.sorted, p / 100.0)
  }
}
