package perfbench

/** Order statistics for the report. */
object Stats {

  /** Linearly interpolated percentile, `p` in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Candidate tail percentiles in per-mille, highest first. */
  private val LadderPerMille = Seq(999, 990, 950, 900, 750, 500)

  /** The highest ladder percentile with at least ten of `n` samples beyond
    * it, or None when `n` is too small for even the median to qualify. */
  def tailPerMille(n: Int): Option[Int] =
    LadderPerMille.find(pm => n.toLong * (1000 - pm) >= 10L * 1000)

  /** The `op_tail_s` statistic: the percentile [[tailPerMille]] picks, or
    * the sample maximum when no percentile has ten samples beyond it. The
    * label names which one was used ("p75", "max", ...). */
  def tail(xs: Seq[Double]): (String, Double) = tailPerMille(xs.size) match {
    case Some(pm) =>
      val label = if (pm % 10 == 0) s"p${pm / 10}" else s"p${pm / 10.0}"
      (label, percentile(xs, pm / 10.0))
    case None => ("max", xs.max)
  }
}
