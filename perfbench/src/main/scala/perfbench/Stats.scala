package perfbench

/** Order statistics and interval arithmetic for the benchmark's reports. */
object Stats {

  /** Linear-interpolation quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Samples strictly beyond the p-th percentile of n samples. */
  def beyond(n: Int, p: Int): Int =
    n - math.ceil(n * p / 100.0).toInt

  /** The highest percentile of `candidates` that leaves at least
    * `minBeyond` samples beyond it, if any does. */
  def tailPercentile(n: Int, candidates: Seq[Int] = Seq(99, 95, 90, 75),
                     minBeyond: Int = 10): Option[Int] =
    candidates.sorted.reverse.find(p => beyond(n, p) >= minBeyond)

  /** Merge half-open intervals [start, end) into disjoint sorted ones. */
  def union(iv: Seq[(Double, Double)]): Seq[(Double, Double)] =
    iv.filter(t => t._2 > t._1).sortBy(_._1)
      .foldLeft(List.empty[(Double, Double)]) {
        case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
        case (acc, t) => t :: acc
      }.reverse

  /** Length of the union of `iv` clipped to [from, until). */
  def covered(iv: Seq[(Double, Double)], from: Double, until: Double): Double =
    union(iv.map { case (a, b) => (math.max(a, from), math.min(b, until)) })
      .map { case (a, b) => b - a }.sum
}
