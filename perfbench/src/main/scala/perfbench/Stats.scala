package perfbench

import graft.tools.BenchHarness

/** The benchmark's statistics: one percentile rule and the interval union
  * behind every `outside_tasks` metric. */
object Stats {

  /** Fewest samples that must lie beyond a reported percentile. A p99 over
    * 200 samples rests on two observations and is no tail at all. */
  val MinBeyond = 10

  /** Samples strictly above the nearest-rank p-th order statistic. */
  def beyond(n: Int, p: Int): Int = n - math.ceil(p / 100.0 * n).toInt

  /** Nearest-rank tail percentile (`BenchHarness.pctl`), or None when
    * fewer than [[MinBeyond]] samples lie beyond it. */
  def percentile(xs: Seq[Double], p: Int): Option[Double] =
    if (xs.isEmpty || beyond(xs.length, p) < MinBeyond) None
    else Some(BenchHarness.pctl(xs.sorted, p))

  /** Nearest-rank lower median. A median is always reported, with its
    * sample count; only tails need samples beyond them. */
  def median(xs: Seq[Double]): Double = BenchHarness.median(xs)

  /** Arithmetic mean: the per-operation figure of a run. A run holds a
    * fixed number of operations on a warm-up slope, where a median of
    * three or four of them moves with the noise of its middle value. */
  def mean(xs: Seq[Double]): Double = xs.sum / xs.length

  /** Total length covered by a set of half-open [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Wall time of [start, end) not covered by any task interval: the time
    * a call spends planning, scheduling, committing and on the driver. */
  def outside(start: Long, end: Long, tasks: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(tasks.map { case (s, e) =>
      (math.max(s, start), math.min(e, end))
    })
}
