package perfbench

/** Order statistics and operation accounting shared by the workloads. */
object Stats {

  /** 1-based nearest rank of percentile `p` among `n` samples; the
    * epsilon keeps `99.9 * 10000 / 100` from rounding up past 9990. */
  private def rank(n: Int, p: Double): Int =
    math.min(n, math.max(1, math.ceil(p * n / 100.0 - 1e-9).toInt))

  /** Nearest-rank percentile (`p` in [0, 100]) of unsorted samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(xs.length, p) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Samples strictly beyond the nearest-rank position of `p`. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  val TailCandidates: Seq[Double] = Seq(99.9, 99, 95, 90, 75, 50)

  /** The highest candidate percentile that keeps at least ten samples
    * beyond it, or None when even the median has fewer than ten. */
  def tailPercentile(n: Int): Option[Double] =
    TailCandidates.find(p => beyond(n, p) >= 10)

  /** The tail [[tailPercentile]] supports, in words, for the log. */
  def describeTail(xs: Seq[Double]): String = tailPercentile(xs.length) match {
    case Some(p) => f"p$p%s = ${percentile(xs, p)}%.1f ms over ${xs.length} samples"
    case None => s"no tail: ${xs.length} samples (at least 20 needed)"
  }

  /** Operations attempted and failed. An operation that completes but
    * whose output is wrong counts as failed exactly like one that
    * throws; `failed` never exceeds `attempted`. */
  final class Outcome {
    private var attempted0 = 0L
    private var failed0 = 0L
    def attempt(ok: Boolean): Unit = synchronized {
      attempted0 += 1; if (!ok) failed0 += 1
    }
    /** Mark `n` already-attempted operations wrong after a later check. */
    def invalidate(n: Long): Unit = synchronized {
      failed0 = math.min(attempted0, failed0 + n)
    }
    def attempted: Long = synchronized(attempted0)
    def failed: Long = synchronized(failed0)
  }
}
