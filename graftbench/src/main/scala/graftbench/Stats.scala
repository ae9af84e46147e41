package graftbench

/** The benchmark's pure arithmetic: interval unions for the driver gap,
  * medians and percentiles, and the metric-name rule. No Spark here, so
  * the benchmark's own tests cover it directly.
  */
object Stats {

  /** Total length covered by the union of closed intervals `[a, b]`.
    * Intervals may overlap, nest or arrive unsorted; empty or inverted
    * intervals cover nothing.
    */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var cs = 0L
    var ce = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (ce == Long.MinValue || a > ce) {
        if (ce != Long.MinValue) covered += ce - cs
        cs = a; ce = b
      } else if (b > ce) ce = b
    }
    if (ce != Long.MinValue) covered += ce - cs
    covered
  }

  /** Driver gap: the part of `[t0, t1]` during which no Spark job was
    * running. Job windows are clipped to the measured window first, so
    * a job that straddles its edge only counts for its inside part.
    */
  def driverGap(t0: Long, t1: Long, jobs: Seq[(Long, Long)]): Long = {
    val clipped = jobs.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
    (t1 - t0) - unionLength(clipped)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p < 100, s"percentile $p outside (0, 100)")
    xs.sorted.apply(rank(xs.size, p) - 1)
  }

  private def rank(n: Int, p: Int): Int = math.max(1, math.ceil(n * p / 100.0).toInt)

  /** Samples strictly beyond the nearest-rank `p`-th percentile. */
  def samplesBeyond(n: Int, p: Int): Int = n - rank(n, p)

  /** The percentile rule: a percentile is reported only when at least
    * `minBeyond` samples lie beyond it, so a tail figure is never one
    * lucky or unlucky sample. Returns the highest of `candidates` that
    * qualifies, if any.
    */
  def highestReportable(n: Int, candidates: Seq[Int] = Seq(50, 90, 99),
                        minBeyond: Int = 10): Option[Int] =
    candidates.filter(p => n > 0 && samplesBeyond(n, p) >= minBeyond)
      .sorted.lastOption

  /** Metric names: a letter or digit first, then at most 63 letters,
    * digits, `_`, `.` or `-`.
    */
  private val NameRe = "^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$".r
  def validName(name: String): Boolean = NameRe.matches(name)

  /** Units: 1 to 16 letters, digits, `_`, `/`, `%`, `.` or `-`. */
  private val UnitRe = "^[A-Za-z0-9_/%.-]{1,16}$".r
  def validUnit(unit: String): Boolean = UnitRe.matches(unit)
}
