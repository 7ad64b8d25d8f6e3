package perfbench

/** The arithmetic behind every reported number, kept pure so the
  * benchmark's own tests can pin it.
  */
object Stats {

  /** Percentile `p` in [0, 100] by linear interpolation between closest
    * ranks (numpy's default). Undefined for an empty sample.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = xs.sorted.toIndexedSeq
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Items completed per second of wall time. */
  def perSecond(items: Long, seconds: Double): Double = {
    require(seconds > 0, s"rate over a non-positive interval ($seconds s)")
    items / seconds
  }

  /** Mean recall of `got` against `truth`, both per query. */
  def recall(truth: Map[Long, Seq[Long]], got: Map[Long, Seq[Long]]): Double = {
    require(truth.nonEmpty, "recall over no queries")
    truth.toSeq.map { case (q, t) =>
      got.getOrElse(q, Nil).toSet.intersect(t.toSet).size.toDouble / t.size
    }.sum / truth.size
  }
}

/** The result line: `{"correct", "attempted", "failed", "metrics"}`. */
object Report {
  final case class Metric(name: String, value: Double, unit: String)

  def json(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[Metric]): String = {
    val ms = metrics.map(m =>
      s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  /** Full precision, and valid JSON for non-finite values (reported as
    * 0 so the line still parses; a non-finite metric is a failed check).
    */
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.lang.Double.toString(x)
}
