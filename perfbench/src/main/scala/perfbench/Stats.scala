package perfbench

/** Order statistics and metric-name rules. Pure functions: the
  * benchmark's own tests cover them without a Spark session. */
object Stats {
  private val NameRe = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r
  private val UnitRe = "[A-Za-z0-9_/%.-]{1,16}".r

  /** A metric or workload name: starts with a letter or digit, then at
    * most 63 more letters, digits, `_`, `.` or `-`. */
  def validName(n: String): Boolean = NameRe.matches(n)

  def validUnit(u: String): Boolean = UnitRe.matches(u)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `q` (0 < q < 1). Refuses unless at least
    * ten samples lie beyond it, so p90 needs 100 samples and p75 40:
    * a tail read from fewer samples is one or two outliers. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(q > 0.0 && q < 1.0, s"percentile level must be in (0, 1), got $q")
    val n = xs.size
    val rank = math.ceil(q * n - 1e-9).toInt
    require(n - rank >= 10,
      f"p${q * 100}%.0f needs at least ten samples beyond it; have $n samples")
    xs.sorted.apply(math.max(rank, 1) - 1)
  }

  /** Smallest sample count for which [[percentile]] accepts `q`. */
  def minSamples(q: Double): Int =
    Iterator.from(1).find(n => n - math.ceil(q * n - 1e-9).toInt >= 10).get

  /** Union length of possibly overlapping [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
