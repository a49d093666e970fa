package perfbench

/** Order statistics for the benchmark's timings. */
object Stats {

  /** Nearest-rank percentile of an ascending sample: the smallest value
    * with at least `p` percent of the sample at or below it. */
  def nearestRank(sorted: Array[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of an empty sample")
    sorted(rank(p, sorted.length) - 1)
  }

  /** 1-based nearest rank of percentile `p` in a sample of `n`. */
  private def rank(p: Double, n: Int): Int = {
    require(p > 0.0 && p <= 100.0, s"percentile must be in (0, 100], got $p")
    math.min(n, math.max(1, math.ceil(p / 100.0 * n).toInt))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Percentiles the tail rule tries, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0)

  /** A tail latency with the evidence behind it: the percentile, its
    * value, and how many samples lie beyond that rank. */
  final case class Tail(percentile: Double, value: Double, beyond: Int)

  /** The highest percentile of `TailLadder` whose nearest rank leaves
    * at least `minBeyond` samples beyond it; `None` when the sample is
    * too small for any of them. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[Tail] = {
    val s = xs.sorted.toArray
    TailLadder.iterator.flatMap { p =>
      val beyond = s.length - rank(p, s.length)
      if (s.nonEmpty && beyond >= minBeyond) Some(Tail(p, nearestRank(s, p), beyond))
      else None
    }.nextOption()
  }
}
