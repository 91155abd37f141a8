package graft.perfbench

/** Order statistics and interval arithmetic behind every number the
  * benchmark prints.
  */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile `p` (0 < p ≤ 100) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt.max(1).min(s.length)
    s(rank - 1)
  }

  /** A tail statistic: the value at `percentile`, from `n` samples. */
  final case class Tail(percentile: Double, value: Double, n: Int)

  /** Percentiles tried for a tail, highest first. */
  val TailPercentiles: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0)

  /** The highest percentile in [[TailPercentiles]] with at least
    * `minBeyond` samples strictly above its value; `None` when the
    * sample is too small for any of them.
    */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[Tail] =
    if (xs.isEmpty) None
    else TailPercentiles.iterator.map { p =>
      val v = percentile(xs, p)
      (p, v, xs.count(_ > v))
    }.collectFirst { case (p, v, beyond) if beyond >= minBeyond => Tail(p, v, xs.length) }

  /** Total length of the union of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    val sorted = intervals.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    sorted.foreach { case (a, b) =>
      if (curEnd.isNaN || a > curEnd) {
        if (!curEnd.isNaN) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (!curEnd.isNaN) total += curEnd - curStart
    total
  }

  /** Part of [start, end) covered by none of `intervals`. */
  def uncovered(start: Double, end: Double, intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
    (end - start) - unionLength(clipped)
  }
}
