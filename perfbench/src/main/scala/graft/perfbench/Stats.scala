package graft.perfbench

/** Order statistics for the benchmark's timings. */
object Stats {

  /** Linear-interpolated quantile (numpy's default, `q` in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  /** Geometric mean of positive samples: every step weighs the same in
    * relative terms, whatever its size. */
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Percentiles a timing may be reported at, highest first. */
  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest percentile on the ladder that has at least `beyond`
    * samples above it among `n`: p qualifies when n·(1 − p/100) ≥ beyond.
    * None when even the median lacks that many. */
  def highestPercentile(n: Int, beyond: Int = 10): Option[Double] =
    Ladder.find(p => n * (100.0 - p) / 100.0 >= beyond - 1e-9)
}
