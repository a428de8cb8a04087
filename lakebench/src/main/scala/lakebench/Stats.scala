package lakebench

/** The arithmetic the benchmark reports with. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** First quartile, median and third quartile, computed as Python's
    * `statistics.quantiles(xs, n=4)` does (its default "exclusive"
    * method), so the spreads printed here are the ones a reader gets
    * from the same values in Python. One value is its own quartiles. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.nonEmpty, "quartiles of no values")
    val s = xs.sorted
    val ld = s.length
    if (ld == 1) return (s.head, s.head, s.head)
    val m = ld + 1
    def q(i: Int): Double = {
      val j = math.max(1, math.min(i * m / 4, ld - 1))
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4
    }
    (q(1), q(2), q(3))
  }

  /** Total length covered by a set of [start, end) intervals; overlapping
    * and nested intervals count once. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** Time in [from, to) during which none of `jobs` was running: the
    * driver's own time between and around Spark jobs. */
  def gapOutside(from: Long, to: Long, jobs: Seq[(Long, Long)]): Long =
    (to - from) - unionLength(jobs.map { case (s, e) =>
      (math.max(s, from), math.min(e, to))
    })
}
