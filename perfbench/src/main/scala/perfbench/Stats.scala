package perfbench

/** Order statistics for latency samples. */
object Stats {

  /** Linear-interpolated quantile (the "inclusive" rule of Python's
    * `statistics.quantiles(method="inclusive")`); NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (pos - lo) * (s(hi) - s(lo))
    }

  /** Harrell-Davis quantile: a Beta-weighted mean of all order
    * statistics. Op latencies of a mixed workload form clusters, and a
    * single order statistic jumps when the quantile falls between two;
    * this estimate moves smoothly instead. NaN on no samples. */
  def hdQuantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else if (xs.size == 1) xs.head
    else {
      val s = xs.sorted
      val n = s.length
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        null, q * (n + 1), (1 - q) * (n + 1))
      s.indices.map(i => (beta.cumulativeProbability((i + 1.0) / n) -
        beta.cumulativeProbability(i.toDouble / n)) * s(i)).sum
    }

  /** Samples strictly above the q-quantile's rank: n - ceil(q * n). */
  def beyond(n: Int, q: Double): Int = n - math.ceil(q * n - 1e-9).toInt

  /** The highest percentile (whole percent, at most `cap`) that still
    * has at least `minTail` samples beyond it; None when even the median
    * has fewer. A tail figure read from fewer samples is noise. */
  def tailPercentile(n: Int, minTail: Int = 10, cap: Int = 99): Option[Int] =
    (cap to 50 by -1).find(p => beyond(n, p / 100.0) >= minTail)
}
