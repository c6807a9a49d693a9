package graft.perfbench

/** Order statistics and fits used to turn samples into reported metrics. */
object Stats {

  /** Metric names: a letter or digit first, then letters, digits, `_`, `.`
    * and `-`, at most 64 in all.
    */
  private val NameRe = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  def validName(name: String): Boolean = NameRe.matches(name)

  /** Median; the mean of the two middle samples for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Least-squares slope of `ys` against `xs`; 0 when `xs` do not vary. */
  def slope(xs: Seq[Double], ys: Seq[Double]): Double = {
    require(xs.length == ys.length && xs.nonEmpty, "slope needs paired samples")
    val mx = xs.sum / xs.length
    val my = ys.sum / ys.length
    val sxx = xs.map(x => (x - mx) * (x - mx)).sum
    if (sxx == 0) 0.0
    else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
  }

  /** Ratio that reads 0 instead of NaN or infinity when nothing was measured. */
  def ratio(num: Double, den: Double): Double = if (den == 0) 0.0 else num / den
}
