package perfbench

/** Order statistics and interval arithmetic shared by every workload. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`%
    * of the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rankOf(s.size, p) - 1)
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rankOf(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Percentiles a tail is reported at, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  final case class Tail(percentile: Double, value: Double, beyond: Int, n: Int)

  /** The highest ladder percentile with at least `minBeyond` samples
    * strictly beyond its rank, so a tail is never read off a handful of
    * samples. None when even the median has fewer beyond it.
    */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[Tail] = {
    val n = xs.size
    TailLadder.find(p => n - rankOf(n, p) >= minBeyond).map { p =>
      Tail(p, percentile(xs, p), n - rankOf(n, p), n)
    }
  }

  /** Total length covered by the union of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((a, b) <- intervals.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a
        curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Intervals clipped to [lo, hi). */
  def clip(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter(i => i._2 > i._1)
}
