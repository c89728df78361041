package graft.perfbench

/** Order statistics used for every timing the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile: the value at rank ceil(p/100 * n). */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100, s"percentile $p of ${xs.size} samples")
    val s = xs.sorted
    s(rank(s.size, p) - 1)
  }

  private def rank(n: Int, p: Int): Int =
    math.max(1, math.ceil(p * n / 100.0 - 1e-9).toInt)

  /** The highest whole percentile, from 50 up, that still has at least
    * `beyond` samples above its nearest rank; None when even the median
    * has fewer. 100 samples give p90, 20 give p50, 19 give none.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] =
    (99 to 50 by -1).find(p => n - rank(n, p) >= beyond)

  /** (percentile, value) of [[tailPercentile]] over `xs`. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] =
    tailPercentile(xs.size, beyond).map(p => (p, percentile(xs, p)))
}
