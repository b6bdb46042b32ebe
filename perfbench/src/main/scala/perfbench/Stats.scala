package perfbench

/** Order statistics over timing samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` (1..100) of `xs`. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p >= 1 && p <= 100, s"percentile $p of ${xs.size} samples")
    val s = xs.sorted
    s(math.max(1, math.ceil(p / 100.0 * s.size).toInt) - 1)
  }

  /** The highest whole percentile (50..99) that leaves at least `beyond`
    * of `n` samples above its rank; None with too few samples for even the
    * median to qualify.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] =
    (99 to 50 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= beyond)
}
