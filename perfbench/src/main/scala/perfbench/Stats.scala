package perfbench

/** Order statistics as the benchmark reports them. [[quartiles]] follows
  * Python's `statistics.quantiles(values, n=4)` (the "exclusive" method),
  * so spreads computed here and by a reader in Python agree. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** (q1, q2, q3); needs at least two values, like its Python model. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two values")
    val s = xs.sorted.toIndexedSeq
    val ld = s.length
    val m = ld + 1
    def cut(i: Int): Double = {
      val j = math.min(math.max(i * m / 4, 1), ld - 1)
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4.0
    }
    (cut(1), cut(2), cut(3))
  }

  /** Total length of the union of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- intervals.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of `[s, e)` not covered by any of `cover` (clipped to it). */
  def uncovered(s: Long, e: Long, cover: Seq[(Long, Long)]): Long =
    (e - s) - unionLength(cover.map { case (a, b) => (math.max(a, s), math.min(b, e)) })
}
