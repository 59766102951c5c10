package perfbench

/** A latency summary: the nearest-rank median plus the highest percentile
  * that still has at least ten samples beyond it, with the sample count it
  * rests on. */
final case class Summary(n: Int, p50: Double, tailPct: Double, tail: Double) {
  def json: String =
    if (n == 0) """{"n":0}"""
    else f"""{"n":$n,"p50":$p50%.4f,"tail_pct":$tailPct%.1f,"tail":$tail%.4f}"""
}

object Stats {

  /** Candidate tail percentiles, highest first. The ladder stops at p99,
    * so a `_p99_ms` metric never reports a percentile above its name. */
  val Ladder: Seq[Double] = Seq(99.0, 95.0, 90.0, 75.0, 50.0)

  /** Samples a tail percentile must leave beyond it. */
  val MinBeyond = 10

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(n: Int, p: Double): Int =
    math.min(n, math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt))

  /** Nearest-rank percentile of an ascending sample. */
  def percentile(sorted: IndexedSeq[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of an empty sample")
    sorted(rank(sorted.size, p) - 1)
  }

  /** The highest ladder percentile with at least [[MinBeyond]] samples
    * strictly beyond its rank, or None when the sample is too small for
    * any (fewer than 20 samples). */
  def tailPercentile(n: Int): Option[Double] =
    Ladder.find(p => n - rank(n, p) >= MinBeyond)

  def summarize(xs: Iterable[Double]): Summary = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) Summary(0, 0.0, 0.0, 0.0)
    else {
      // nearest rank for the median too, so the tail is never below it
      val med = percentile(s, 50)
      tailPercentile(s.size) match {
        case Some(p) => Summary(s.size, med, p, percentile(s, p))
        case None => Summary(s.size, med, 100.0, s.last)
      }
    }
  }

  /** Plain median (mean of the middle pair for even counts); 0 when empty. */
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
