package graftbench

/** Order statistics for latency reporting. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p < 100), reported only when at
    * least `minBeyond` samples lie strictly above its rank — a p90 from
    * 20 samples would be the second-slowest run, not a tail. */
  def percentile(xs: Seq[Double], p: Double, minBeyond: Int = 10): Option[Double] = {
    require(p > 0 && p < 100)
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt // 1-based
    if (s.isEmpty || s.length - rank < minBeyond) None else Some(s(rank - 1))
  }
}
