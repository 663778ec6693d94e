package graft.perfbench

/** Order statistics for the benchmark's timings.
  *
  * Rule: a timing is reported as its median plus the highest percentile
  * that still has at least [[MinBeyond]] samples beyond it, with the
  * sample count.
  *
  * Estimator: Harrell–Davis — a Beta-weighted average of every order
  * statistic. A run pools a few samples from several op types; a
  * percentile that falls between two op types' latencies then moves
  * with one sample under linear interpolation, but only a little under
  * Harrell–Davis.
  */
object Stats {
  val MinBeyond = 10

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p out of range")
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    if (n == 1 || p == 0) s.head
    else if (p == 100) s.last
    else {
      val q = p / 100.0
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        null, q * (n + 1), (1 - q) * (n + 1))
      var prev = 0.0
      var acc = 0.0
      for (i <- 1 to n) {
        val cur = beta.cumulativeProbability(i.toDouble / n)
        acc += (cur - prev) * s(i - 1)
        prev = cur
      }
      acc
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Samples strictly above the p-th percentile's rank: n·(1 − p/100). */
  def beyond(n: Int, p: Int): Double = n * (100 - p) / 100.0

  /** The highest percentile, in steps of 5 from 95 down to 50, with at
    * least [[MinBeyond]] samples beyond it; None below 2·MinBeyond
    * samples (then only the median is a sound summary). */
  def tailPercentile(n: Int): Option[Int] =
    (95 to 50 by -5).find(p => beyond(n, p) >= MinBeyond)
}
