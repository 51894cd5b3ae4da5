package perfbench

/** The harness's own arithmetic: percentiles and interval unions. */
object Stats {

  /** Percentile `p` in [0, 100] with linear interpolation between closest
    * ranks (numpy's default): p50 of (1, 2, 3, 4) is 2.5, p90 of 1..11 is 10.
    */
  def percentile(values: Seq[Double], p: Double): Double = {
    require(values.nonEmpty, "percentile of no values")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = values.sorted
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(values: Seq[Double]): Double = percentile(values, 50)

  def mean(values: Seq[Double]): Double =
    if (values.isEmpty) 0.0 else values.sum / values.length

  /** Total length covered by the union of half-open intervals
    * [start, end), clipped to [lo, hi). Overlaps count once.
    */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- clipped) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part its children cover. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(children, start, end)
}
