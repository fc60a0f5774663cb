package perfbench

/** Summary statistics under the benchmark's reporting rule: a timing is
  * a median plus a tail percentile, and a percentile is reported only
  * when at least [[MinBeyond]] samples lie beyond it.
  */
object Stats {
  val MinBeyond = 10

  /** Nearest-rank percentile of `xs` (any order), `p` in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(s.length, math.max(1, rank)) - 1)
  }

  /** Samples strictly beyond the nearest-rank position of `p`. */
  def beyond(n: Int, p: Double): Int =
    n - math.min(n, math.max(1, math.ceil(p / 100.0 * n).toInt))

  /** Whether `p` may be reported from `n` samples. */
  def reportable(n: Int, p: Double): Boolean = n > 0 && beyond(n, p) >= MinBeyond

  /** The highest of the standard percentiles the sample supports. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(99.0, 95.0, 90.0, 75.0, 50.0).iterator
      .find(p => reportable(xs.length, p))
      .map(p => p -> percentile(xs, p))

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Length of the union of half-open intervals `[start, end)`. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** Self time of a span `[start, end)`: its duration minus the part of
    * it that its children cover. Children may overlap each other and
    * may stick out of the parent; only the covered part inside the
    * parent counts.
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
    (end - start) - unionLength(clipped)
  }
}
