package graftbench

/** The benchmark's own arithmetic, kept pure so the self-tests pin it. */
object Stats {

  /** Nearest-rank percentile, `p` in (0, 1]. A failed op enters the sample
    * as +Inf, so it counts as missing every latency limit. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 1, s"percentile rank $p outside (0, 1]")
    val sorted = xs.sorted
    sorted(rankIndex(xs.size, p))
  }

  private def rankIndex(n: Int, p: Double): Int =
    math.max(0, math.ceil(p * n - 1e-9).toInt - 1)

  /** Samples ranked strictly above the nearest-rank `p` percentile. */
  def samplesBeyond(n: Int, p: Double): Int = n - 1 - rankIndex(n, p)

  /** A tail percentile is reported only with at least ten samples beyond
    * it; anything less is one or two unlucky ops, not a percentile. */
  def tailSupported(n: Int, p: Double): Boolean = n > 0 && samplesBeyond(n, p) >= 10

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** The median of each group's values, one per group, in no set order. */
  def medianBy[A](xs: Seq[A])(key: A => String, value: A => Double): Seq[Double] =
    xs.groupBy(key).values.map(g => median(g.map(value))).toSeq

  /** Geometric mean: the typical op time of a mix whose op costs differ by
    * orders of magnitude. Every sample counts, so it is steadier than the
    * median of a few dozen samples; one failed op (+Inf) makes it +Inf. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geometric mean of no samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Total length covered by a set of possibly overlapping [start, end)
    * intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Part of `window` covered by the union of `intervals`. */
  def coveredWithin(window: (Long, Long), intervals: Seq[(Long, Long)]): Long =
    unionLength(intervals.map { case (s, e) =>
      (math.max(s, window._1), math.min(e, window._2)) })

  /** Part of `window` covered by none of `intervals`: for an execute phase
    * and its jobs, the driver time between jobs. */
  def uncoveredWithin(window: (Long, Long), intervals: Seq[(Long, Long)]): Long =
    math.max(0L, window._2 - window._1) - coveredWithin(window, intervals)

  /** One traced interval: `parent` is the id of the span that caused it. */
  final case class Span(id: Long, parent: Long, name: String, start: Long,
      end: Long)

  /** A span's duration minus the part of it its direct children cover. */
  def selfTime(span: Span, all: Seq[Span]): Long =
    uncoveredWithin((span.start, span.end),
      all.filter(_.parent == span.id).map(c => (c.start, c.end)))
}
