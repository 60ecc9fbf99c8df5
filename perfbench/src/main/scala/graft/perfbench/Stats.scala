package graft.perfbench

/** Interval and sample arithmetic shared by the metrics and the spans. */
object Stats {

  /** Total length covered by half-open intervals `[start, end)`, with
    * overlaps counted once. Jobs submitted from pool threads overlap, so
    * their summed durations can exceed the wall time of the call that
    * issued them; the union never does. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    val sorted = intervals.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    sorted.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The intervals clipped to `[lo, hi)`. */
  def clip(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }

  /** Wall time of a call minus the union of its jobs inside the call:
    * the time of the call that no job accounts for. Never negative. */
  def gap(lo: Long, hi: Long, jobs: Seq[(Long, Long)]): Long =
    (hi - lo) - unionLength(clip(jobs, lo, hi))

  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toIndexedSeq
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest whole percentile with at least ten samples above it,
    * and its value: with n samples that is floor(100 * (1 - 10 / n)).
    * Fewer than 20 samples leave no percentile above the median with ten
    * samples beyond it, so the tail is then the median itself. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val p = math.max(50, math.floor(100.0 * (1.0 - 10.0 / xs.size)).toInt)
    (p, percentile(xs, p))
  }
}
