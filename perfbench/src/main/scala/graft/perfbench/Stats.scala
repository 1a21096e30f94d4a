package graft.perfbench

/** Order statistics over samples, and interval arithmetic for the trace. */
object Stats {
  /** Median; an even count averages the two middle values. */
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "median of no samples")
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Geometric mean of positive samples. */
  def geomean(xs: Iterable[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Linearly interpolated quantile, q in [0, 1]. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "quantile of no samples")
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest quantile that leaves at least `beyond` samples above
    * it, capped at p99, and its value. */
  def tail(xs: Iterable[Double], beyond: Int = 10): (Double, Double) = {
    val q = math.max(0.5, math.min(0.99, 1.0 - beyond.toDouble / xs.size))
    (q, quantile(xs, q))
  }

  /** Total length of the union of half-open intervals. */
  def unionLength(iv: Iterable[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.toArray.sortBy(_._1).foreach {
      case (s, e) =>
        if (curS.isNaN) { curS = s; curE = e }
        else if (s <= curE) curE = math.max(curE, e)
        else { total += curE - curS; curS = s; curE = e }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
