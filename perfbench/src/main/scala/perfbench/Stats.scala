package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Samples a percentile needs beyond it before it is reported. */
  val MinBeyond = 10

  /** Nearest-rank `p`-th percentile (0 < p < 100) of `xs`, or None when
    * fewer than [[MinBeyond]] samples lie beyond its rank: the median
    * needs 20 samples, p90 needs 100.
    */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 100, s"percentile $p outside (0, 100)")
    val n = xs.size
    val rank = math.ceil(p / 100.0 * n).toInt
    if (n == 0 || n - rank < MinBeyond) None
    else Some(xs.sorted.apply(rank - 1))
  }

  /** Plain median (mean of the middle pair for an even count), used to
    * summarise a handful of per-pass or per-set-up values.
    */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
}
