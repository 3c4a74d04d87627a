package graftbench

/** Order statistics used by the benchmark's reports. */
object Stats {

  /** Nearest-rank percentile (`p` in (0, 100]) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "empty sample")
    require(p > 0.0 && p <= 100.0, s"percentile $p out of (0, 100]")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Samples strictly above the nearest-rank `p`-th percentile. */
  def beyond(n: Int, p: Double): Int =
    n - math.ceil(p / 100.0 * n).toInt

  /** The percentile rule: a percentile is only reported when at least
    * `minBeyond` samples lie beyond it, so its value rests on more than
    * a handful of outliers. */
  def reportable(n: Int, p: Double, minBeyond: Int = 10): Boolean =
    beyond(n, p) >= minBeyond

  /** Smallest sample size that can report `p` under the rule. */
  def samplesFor(p: Double, minBeyond: Int = 10): Int =
    Iterator.from(1).find(reportable(_, p, minBeyond)).get
}
