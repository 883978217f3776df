package perfbench

/** Order statistics for latency samples. Percentiles are nearest-rank: the
  * p-th percentile of n samples is the smallest sample with at least p% of
  * all samples at or below it, so every reported value is a real sample. */
object Stats {

  /** Percentiles the tail is read at, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Minimum number of samples that must lie beyond a reported tail. */
  val MinBeyond = 10

  def percentile(sorted: Array[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    sorted(math.min(sorted.length, math.max(1, rank(sorted.length, p))) - 1)
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "median of no samples")
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Nearest-rank position (1-based) of the p-th percentile of n samples;
    * the epsilon keeps 99.9% of 10000 at 9990 despite binary rounding. */
  private def rank(n: Int, p: Double): Int = math.ceil(p / 100.0 * n - 1e-9).toInt

  /** Samples strictly beyond the nearest-rank p-th percentile position. */
  def samplesBeyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The highest ladder percentile, at most `atMost`, that has at least
    * [[MinBeyond]] samples beyond it, or None when there are too few
    * samples for any. */
  def tailPercentile(n: Int, atMost: Double = 100.0): Option[Double] =
    TailLadder.find(p => p <= atMost && samplesBeyond(n, p) >= MinBeyond)

  /** (percentile, value) of the tail: the highest ladder percentile, at
    * most `atMost`, with at least ten samples beyond it; with fewer than 20
    * samples no percentile qualifies and the maximum is reported as
    * percentile 100. A workload caps the percentile where its usual sample
    * count allows, so a faster run (more samples) reads the same
    * percentile. */
  def tail(xs: Iterable[Double], atMost: Double = 100.0): (Double, Double) = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "tail of no samples")
    tailPercentile(s.length, atMost) match {
      case Some(p) => (p, percentile(s, p))
      case None    => (100.0, s.last)
    }
  }
}
