package perfbench

/** Small numeric and JSON helpers. */
object Stats {
  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Bytes and file count under a directory tree (0 if absent). */
  def du(path: String): (Long, Long) = {
    val root = new java.io.File(path)
    if (!root.exists) (0L, 0L)
    else {
      val files = walk(root).filter(_.isFile)
      (files.map(_.length).sum, files.size.toLong)
    }
  }

  def files(path: String): Map[String, Long] = {
    val root = new java.io.File(path)
    if (!root.exists) Map.empty
    else walk(root).filter(_.isFile).map(f => f.getPath -> f.length).toMap
  }

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f +: Option(f.listFiles).toSeq.flatten.flatMap(walk)
    else Seq(f)
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def result(correct: Boolean, attempted: Long, failed: Long,
             metrics: Map[String, (Double, String)]): String = {
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s""""${esc(k)}": {"value": ${num(v)}, "unit": "${esc(u)}"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}
