package perfbench

/** The benchmark's own arithmetic: order statistics, interval unions and
  * span self times. Pure functions, checked by [[SelfCheck]]. */
object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" definition). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of `candidates` (e.g. 0.99, 0.9) that has at least
    * `minBeyond` samples strictly above its rank, with the number of
    * samples beyond it. None when even the lowest has too few. */
  def tailPercentile(
      n: Int,
      candidates: Seq[Double] = Seq(0.999, 0.99, 0.9),
      minBeyond: Int = 10): Option[(Double, Int)] =
    candidates.sorted.reverse.iterator
      .map(p => p -> (n - math.ceil(p * n).toInt))
      .find(_._2 >= minBeyond)

  /** Total length covered by the union of half-open intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    for ((s, e) <- intervals.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (curStart.isNaN || s > curEnd) {
        if (!curStart.isNaN) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (!curStart.isNaN) total += curEnd - curStart
    total
  }

  /** Intervals clipped to [lo, hi]; empty ones dropped. */
  def clip(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] =
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(i => i._2 > i._1)

  /** Σ interval lengths ÷ length of their union: 1.0 when the intervals
    * never overlap, up to n when n of them always run together. */
  def overlap(intervals: Seq[(Double, Double)]): Double = {
    val u = unionLength(intervals)
    if (u <= 0) 1.0 else intervals.map(i => math.max(0.0, i._2 - i._1)).sum / u
  }

  /** A recorded span: times in seconds on one clock. */
  final case class Span(id: Long, parent: Long, op: String, name: String, start: Double, end: Double) {
    def dur: Double = end - start
  }

  /** Self time of each span: its duration minus the part of it that its
    * direct children cover. Over the spans of one operation whose
    * children nest inside their parents, the self times sum to the root
    * span's duration. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.dur - unionLength(clip(kids, s.start, s.end)))
    }.toMap
  }

  /** Slowest ÷ median of a set of durations (1.0 for fewer than 2). */
  def skew(durations: Seq[Double]): Double =
    if (durations.size < 2) 1.0
    else {
      val m = median(durations)
      if (m <= 0) 1.0 else durations.max / m
    }
}
