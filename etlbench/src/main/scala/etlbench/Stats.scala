package etlbench

/** Percentiles that refuse to speak for too few samples: a quantile is
  * reported only when at least `minBeyond` samples lie beyond it, so a
  * p75 needs 40 samples at the default of 10. */
object Stats {

  def percentile(xs: Seq[Double], q: Double, minBeyond: Int = 10): Double = {
    require(q > 0 && q < 1, s"quantile $q outside (0, 1)")
    val beyond = math.floor(xs.size * (1 - q)).toInt
    require(beyond >= minBeyond,
      f"p${q * 100}%.0f over ${xs.size} samples leaves $beyond beyond it; $minBeyond needed")
    val s = xs.sorted
    // linear interpolation between closest ranks (Python's "inclusive")
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double], minBeyond: Int = 10): Double = percentile(xs, 0.5, minBeyond)
}
