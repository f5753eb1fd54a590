package perfbench

/** Order statistics for the benchmark's samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile must be in (0, 100], got $p")
    val s = xs.sorted
    s(rank(s.size, p) - 1)
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(n: Int, p: Double): Int = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Candidate tail percentiles, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0)

  /** The highest percentile of [[TailLadder]] that has at least
    * `minBeyond` samples strictly above its rank, with its value; None
    * when even the lowest rung lacks that support. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[(Double, Double)] =
    TailLadder.find(p => xs.size - rank(xs.size, p) >= minBeyond)
      .map(p => (p, percentile(xs, p)))
}
