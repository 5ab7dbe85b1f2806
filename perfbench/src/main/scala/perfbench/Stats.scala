package perfbench

/** Order statistics for latency samples. */
object Stats {

  /** Linear-interpolated percentile (numpy's default), `p` in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Percentiles the tail is read at, highest first. */
  val TailLadder: Seq[Double] = Seq(99, 95, 90, 80, 75, 70, 65, 60, 55, 50)

  /** The tail: the highest ladder percentile with at least 10 samples
    * beyond it, as (percentile, value). With fewer than 20 samples no
    * ladder rung qualifies and the tail is the maximum (percentile 100).
    */
  def tail(xs: Seq[Double]): (Double, Double) =
    TailLadder.find(p => xs.size * (1 - p / 100.0) >= 10 - 1e-9) match {
      case Some(p) => (p, percentile(xs, p))
      case None    => (100.0, if (xs.isEmpty) Double.NaN else xs.max)
    }
}
