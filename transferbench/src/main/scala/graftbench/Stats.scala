package graftbench

/** Order statistics and the result line. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest nearest-rank percentile with at least ten samples above
    * it: (percentile, value), or None below 11 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.length < 11) None
    else {
      val s = xs.sorted
      val k = s.length - 11
      Some((100.0 * (k + 1) / s.length, s(k)))
    }

  /** The driver JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally src.close()
  }

  final case class Metric(name: String, value: Double, unit: String)

  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a number")
    v.toString
  }

  /** The benchmark's last stdout line. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long,
                 metrics: Seq[Metric]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      """"metrics": {""" + metrics.map(m =>
        s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
        .mkString(", ") + "}}"
}
