package perfbench

/** Order statistics the report uses: medians and the tail rule. */
object Stats {
  /** Linear-interpolated percentile (`p` in [0, 100]) of unsorted values. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p / 100.0 * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Geometric mean of positive values: a change of x% in any one of
    * them moves it by the same share, whatever that value's size. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** Candidate tail percentiles, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The tail rule: the highest ladder percentile with at least
    * `minBeyond` samples above it, i.e. n·(1 − p/100) ≥ minBeyond. With
    * too few samples for any rung, the tail is the maximum (p100).
    * Returns (percentile, value). */
  def tail(xs: Seq[Double], minBeyond: Int = 10): (Double, Double) =
    TailLadder.find(p => xs.length * (1 - p / 100.0) >= minBeyond - 1e-9) match {
      case Some(p) => (p, percentile(xs, p))
      case None => (100.0, xs.max)
    }
}
