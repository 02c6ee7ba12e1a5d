package perfbench

/** Summary statistics the benchmark reports, kept free of Spark so the
  * rules are unit-testable.
  */
object Stats {

  /** Median (mean of the two middle values for an even count); NaN when
    * there are no samples.
    */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile `p` in (0, 1]. */
  def nearestRank(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  /** Samples lying strictly beyond the nearest-rank `p` percentile. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p * n).toInt

  /** Tail percentile reported only when at least `minBeyond` samples lie
    * beyond it; otherwise None (the sample cannot support the tail).
    */
  def tail(xs: Seq[Double], p: Double, minBeyond: Int = 10): Option[Double] =
    if (xs.nonEmpty && beyond(xs.size, p) >= minBeyond)
      Some(nearestRank(xs, p))
    else None

  /** One latency distribution as reported: median, p90 when supported,
    * and the sample count.
    */
  final case class Summary(n: Int, p50: Double, p90: Option[Double])

  def summary(xs: Seq[Double]): Summary =
    Summary(xs.size, median(xs), tail(xs, 0.9))

  /** One event on a single FIFO worker: arrival (the raw audit stamp) and
    * completion (the outcome audit stamp), in any time unit.
    */
  final case class Visit(arrival: Double, done: Double)

  /** Queue wait and service time per event for a single FIFO worker:
    * service starts at max(arrival, previous completion). Events are
    * taken in arrival order; the result is in that order.
    */
  def fifoSplit(visits: Seq[Visit]): Seq[(Double, Double)] = {
    var prevDone = Double.NegativeInfinity
    visits.sortBy(_.arrival).map { v =>
      val start = math.max(v.arrival, prevDone)
      prevDone = math.max(prevDone, v.done)
      (start - v.arrival, v.done - start)
    }
  }

  /** Largest backlog (arrived − completed) seen at any arrival instant. */
  def maxDepth(arrivals: Seq[Double], completions: Seq[Double]): Int = {
    val done = completions.sorted.toArray
    var j = 0
    var best = 0
    arrivals.sorted.zipWithIndex.foreach { case (a, i) =>
      while (j < done.length && done(j) <= a) j += 1
      best = math.max(best, i + 1 - j)
    }
    best
  }

  /** A closed interval [start, end]. */
  final case class Interval(start: Double, end: Double)

  /** Length of the union of `children` clipped to `parent`. */
  def covered(parent: Interval, children: Seq[Interval]): Double = {
    val clipped = children
      .map(c => Interval(math.max(c.start, parent.start),
        math.min(c.end, parent.end)))
      .filter(c => c.end > c.start)
      .sortBy(_.start)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { c =>
      if (curS.isNaN || c.start > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = c.start; curE = c.end
      } else curE = math.max(curE, c.end)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time: a span's duration minus the part its children cover. */
  def selfTime(parent: Interval, children: Seq[Interval]): Double =
    (parent.end - parent.start) - covered(parent, children)
}
