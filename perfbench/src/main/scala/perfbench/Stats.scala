package perfbench

/** Order statistics and failure accounting shared by every workload. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A typical round: the sum over its kinds of operation (a query; a
    * night's load or fold) of each kind's median time across `rounds`,
    * so one slow operation does not move it. A failed operation counts
    * as infinitely slow.
    */
  def medianRound(rounds: Seq[Seq[Op]]): Double = {
    require(rounds.nonEmpty, "no rounds")
    rounds.flatten.groupBy(_.kind).values
      .map(ops => median(ops.map(_.seconds.getOrElse(Double.PositiveInfinity)))).sum
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`
    * percent of all samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val s = xs.sorted
    s(rank(s.size, p) - 1)
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(n: Int, p: Int): Int = math.max(1, ((p.toLong * n + 99) / 100).toInt)

  /** The highest whole percentile, from 50 up, that still has at least
    * `minBeyond` samples above its rank; None when even the median
    * has fewer (then no tail figure is reported, only the median).
    */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Int] =
    (99 to 50 by -1).find(p => n - rank(n, p) >= minBeyond)

  /** Latency samples where a failed operation counts as missing every
    * limit: it sorts above every completed one.
    */
  def withFailures(samples: Seq[Option[Double]]): Seq[Double] =
    samples.map(_.getOrElse(Double.PositiveInfinity))
}

/** Operations attempted and failed in one run: an operation is one
  * half of a night (its load or its fold) or one query.
  */
final case class Outcome(attempted: Int, failed: Int) {
  require(failed >= 0 && failed <= attempted, s"bad outcome $this")
  def failedFrac: Double =
    if (attempted == 0) 0.0 else failed.toDouble / attempted
}
