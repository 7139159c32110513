package graft.perfbench

/** Order statistics for per-operation samples. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p` of the
    * samples at or below it. `p` in (0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 1, s"percentile rank $p outside (0, 1]")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
}
