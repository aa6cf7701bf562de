package perfbench

/** Summary statistics with the benchmark's reporting rules. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The q-quantile (0 < q < 1) by linear interpolation between order
    * statistics at rank q·(n+1) — the "exclusive" method of Python's
    * `statistics.quantiles`, clamped to the sample range.
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty && q > 0 && q < 1, s"quantile($q) of ${xs.size} samples")
    val s = xs.sorted
    val pos = q * (s.length + 1) - 1 // 0-based fractional rank
    if (pos <= 0) s.head
    else if (pos >= s.length - 1) s.last
    else {
      val lo = pos.toInt
      s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
    }
  }

  /** Samples needed beyond a tail percentile before it is reported. */
  val MinTail = 10

  /** The q-quantile, but only when at least [[MinTail]] samples lie
    * strictly beyond it; a tail read from fewer samples is one outlier.
    */
  def tailQuantile(xs: Seq[Double], q: Double): Option[Double] =
    if (xs.isEmpty) None
    else {
      val v = quantile(xs, q)
      if (xs.count(_ > v) >= MinTail) Some(v) else None
    }

  /** A ratio that keeps its numerator and denominator, so a reader can
    * tell a real change from a change of base.
    */
  final case class Ratio(num: Double, den: Double) {
    def value: Double = if (den == 0) 0.0 else num / den
  }
}
