package perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least `beyond` samples above it, by
    * nearest rank: (value, percentile). Needs more than `beyond` samples. */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) = {
    val s = xs.sorted
    val rank = s.size - beyond // 1-based rank with `beyond` samples after it
    require(rank >= 1, s"tail needs more than $beyond samples, got ${s.size}")
    (s(rank - 1), 100.0 * rank / s.size)
  }
}
