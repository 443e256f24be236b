package kgbench

/** Order statistics with the conventions the benchmark reports: the median
  * averages the two middle values of an even count, and quartiles use the
  * exclusive method of Python's `statistics.quantiles(values, n=4)`.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** (q1, median, q3). With one value all three are that value. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.nonEmpty, "quartiles of no values")
    val s = xs.sorted.toIndexedSeq
    val n = s.length
    if (n == 1) return (s(0), s(0), s(0))
    def q(i: Int): Double = {
      // statistics.quantiles(method="exclusive"): m = n + 1, j clamped to 1..n-1
      val j = math.min(math.max(i * (n + 1) / 4, 1), n - 1)
      val delta = i * (n + 1) - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4
    }
    (q(1), median(s), q(3))
  }
}
