package reportbench

/** Order statistics for the reported timings. */
object Stats {

  /** The highest whole percentile that leaves at least ten samples
    * above it, never below the median: p75 for 40 samples, p90 for 100.
    */
  def tailPct(n: Int): Int = math.max(50, (n - 10) * 100 / math.max(n, 1))

  /** Nearest-rank percentile: the smallest sample with at least `p`%
    * of the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "no samples")
    val sorted = xs.sorted
    val rank = math.ceil(p / 100.0 * sorted.size).toInt
    sorted(math.min(math.max(rank, 1), sorted.size) - 1)
  }

  /** The tail of `xs` as (percentile, value). Where the percentile
    * falls back to p50 the value is the median itself, so a tail never
    * reads below the median.
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val p = tailPct(xs.size)
    (p, if (p == 50) median(xs) else percentile(xs, p))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
