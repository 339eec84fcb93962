package perfbench

/** Order statistics over latency samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted.toIndexedSeq
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of the
    * samples at or below it. */
  def nearestRank(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile out of range: $p")
    val s = xs.sorted.toIndexedSeq
    val rank = math.max(1, math.ceil(p * s.length / 100.0).toInt)
    s(rank - 1)
  }

  /** The highest whole percentile that leaves at least `minBeyond` samples
    * above it, or None when `n` is too small for any. */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Int] =
    if (n <= minBeyond) None
    else Some((100L * (n - minBeyond) / n).toInt).filter(_ >= 1)

  /** A tail reading: the value, the percentile it sits at, and the number of
    * samples it rests on. */
  final case class Tail(value: Double, pct: Int, n: Int)

  /** The tail of `xs` under the ten-beyond rule. The tail is never below
    * the median: with fewer than twenty samples the rule would pick a
    * percentile under 50, so the tail falls back to the median and records
    * p50. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail =
    tailPercentile(xs.length, minBeyond).filter(_ > 50) match {
      case Some(p) => Tail(nearestRank(xs, p), p, xs.length)
      case None => Tail(median(xs), 50, xs.length)
    }
}
