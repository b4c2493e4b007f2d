package graft.perfbench

import org.apache.commons.math3.distribution.BetaDistribution

/** Order statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The Harrell-Davis estimate of the `p`th quantile (0 < p < 1): a
    * weighted mean of every order statistic, with weights from a Beta(p(n+1),
    * (1-p)(n+1)) distribution. A single order statistic of a few samples
    * follows whichever operation happens to hold that rank; this estimate
    * spreads over the neighbouring ranks, so it moves less from run to run.
    * For one sample it is that sample. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(p > 0 && p < 1, s"quantile out of range: $p")
    val s = xs.sorted
    val n = s.length
    val beta = new BetaDistribution(null, p * (n + 1), (1 - p) * (n + 1))
    val cdf = (0 to n).map(i => beta.cumulativeProbability(i.toDouble / n))
    s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
  }

  /** Samples strictly beyond the nearest-rank `p`th percentile of `n`:
    * the smallest sample with at least `p`% of the samples at or below it. */
  def beyond(n: Int, p: Double): Int =
    n - math.max(1, math.ceil(p / 100 * n).toInt)

  val Ladder: Seq[Double] = Seq(99, 95, 90, 75, 50)

  /** The highest percentile of [[Ladder]] that leaves at least
    * `minBeyond` of `n` samples beyond it, so a tail figure never rests
    * on a handful of samples. For a 44-query pass this is p75. */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    Ladder.find(p => beyond(n, p) >= minBeyond)
}
