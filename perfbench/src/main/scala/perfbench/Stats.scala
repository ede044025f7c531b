package perfbench

/** The benchmark's own arithmetic: percentiles, the tail rule, interval
  * unions and span self time. Pure functions, unit-tested in StatsSpec. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    xs.sum / xs.size
  }

  /** Nearest-rank percentile: the smallest sample with at least `p` of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 1, s"p must be in (0, 1], got $p")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.length).toInt - 1))
  }

  /** Samples strictly beyond the nearest-rank `p` percentile. */
  def beyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p * n).toInt)

  /** Percentiles the tail rule may report, highest first. */
  val TailLadder: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)

  /** The tail of a timing: the highest percentile of [[TailLadder]] with at
    * least `minBeyond` samples beyond it, as (percentile, value). None when
    * there are too few samples for even the median to qualify. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[(Double, Double)] =
    TailLadder.find(p => beyond(xs.length, p) >= minBeyond)
      .map(p => (p, percentile(xs, p)))

  /** Total length covered by the union of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    val sorted = intervals.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NegativeInfinity
    var curE = Double.NegativeInfinity
    sorted.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Intervals clipped to [lo, hi); those outside it vanish. */
  def clip(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] =
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }

  /** Wall time of [start, end) during which none of `jobs` was running:
    * the driver's own work between Spark jobs. */
  def driverGap(start: Double, end: Double, jobs: Seq[(Double, Double)]): Double =
    (end - start) - unionLength(clip(jobs, start, end))

  /** A span's self time: its duration minus the part of it its children
    * cover (children may overlap one another). */
  def selfTime(start: Double, end: Double, children: Seq[(Double, Double)]): Double =
    driverGap(start, end, children)
}
