package graftbench

/** Order statistics used by every workload. */
object Stats {

  /** Linear-interpolated percentile (`p` in [0, 100]) of `xs`; NaN when
    * `xs` is empty. Matches numpy's default ("linear") method.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest percentile a sample of `n` supports: the largest `p` in
    * `candidates` that leaves at least `minBeyond` samples above it, or
    * None when even the lowest candidate does not.
    */
  def supportedPercentile(
      n: Int,
      candidates: Seq[Double] = Seq(50, 75, 90, 95, 99, 99.9),
      minBeyond: Int = 10
  ): Option[Double] =
    candidates.sorted.reverse.find(p => n * (100 - p) / 100.0 + 1e-9 >= minBeyond)

  /** Percentile weighted by integer counts: `pairs` are (value, weight). */
  def weightedPercentile(pairs: Seq[(Double, Long)], p: Double): Double = {
    val total = pairs.map(_._2).sum
    if (total == 0) return Double.NaN
    val s = pairs.filter(_._2 > 0).sortBy(_._1)
    // rank on the expanded sample, interpolated like `percentile`
    val pos = (total - 1) * p / 100.0
    def at(rank: Long): Double = {
      var acc = 0L
      s.find { case (_, w) => acc += w; acc > rank }.get._1
    }
    val lo = math.floor(pos).toLong
    val hi = math.min(lo + 1, total - 1)
    at(lo) + (at(hi) - at(lo)) * (pos - lo)
  }
}
