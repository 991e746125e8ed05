package perfbench

/** Order statistics and interval arithmetic used by every workload. */
object Stats {

  /** Percentiles the tail metric may report, highest first. */
  val TailLadder: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.8, 0.75, 0.5)

  /** Samples a tail percentile must leave beyond it to be reported. */
  val MinBeyond = 10

  /** Nearest-rank percentile: the smallest sample with at least
    * `q * n` samples at or below it. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(q > 0 && q <= 1, s"percentile $q outside (0, 1]")
    val s = xs.sorted
    s(rank(s.length, q) - 1)
  }

  /** 1-based nearest rank of percentile q among n samples. */
  def rank(n: Int, q: Double): Int =
    math.min(n, math.max(1, math.ceil(q * n - 1e-9).toInt))

  /** The highest ladder percentile that leaves at least [[MinBeyond]]
    * samples strictly above its rank; None when even the median
    * does not. */
  def tailQuantile(n: Int): Option[Double] =
    TailLadder.find(q => n - rank(n, q) >= MinBeyond)

  /** (percentile, value) of the tail, or the maximum (q = 1) when the
    * sample is too small for any ladder percentile. */
  def tail(xs: Seq[Double]): (Double, Double) =
    tailQuantile(xs.length) match {
      case Some(q) => (q, percentile(xs, q))
      case None    => (1.0, xs.max)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Total length covered by a set of half-open intervals, overlaps
    * counted once. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach {
      case (a, b) =>
        if (curStart.isNaN) { curStart = a; curEnd = b }
        else if (a <= curEnd) curEnd = math.max(curEnd, b)
        else {
          total += curEnd - curStart
          curStart = a; curEnd = b
        }
    }
    if (!curStart.isNaN) total += curEnd - curStart
    total
  }

  /** Part of `outer` not covered by any of `inner` (each clipped to
    * `outer`): an operation's wall time outside its Spark jobs. */
  def uncovered(outer: (Double, Double), inner: Seq[(Double, Double)])
      : Double = {
    val (lo, hi) = outer
    val clipped = inner.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
    (hi - lo) - unionLength(clipped)
  }
}
