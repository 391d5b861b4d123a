package perfbench

import scala.collection.mutable

/** A workload the harness repeats: each repetition appends its ops. */
trait Workload {
  def ops: mutable.ArrayBuffer[OpRec]
  /** Run repetition `index`; returns the seconds it spent on harness work
    * (writing results out) that is not part of the measurement.
    */
  def repetition(index: Int, dumpTo: Option[String]): Double
}

/** What one op did: its latency, and whether it threw or failed a check. */
final case class OpRec(index: Int, session: String, family: String, latency: Double,
    var ok: Boolean = true, var error: String = "")

/** Metrics and diagnostics of one run, written as JSON for run.py. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def json: String = {
    def q(s: String) = Report.quote(s)
    def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
    val m = metrics.map { case (k, (v, u)) => s"${q(k)}: {\"value\": ${num(v)}, \"unit\": ${q(u)}}" }
    val i = info.map { case (k, v) => s"${q(k)}: $v" }
    s"""{"attempted": $attempted, "failed": $failed, "metrics": {${m.mkString(", ")}}, """ +
      s""""errors": [${errors.take(50).map(q).mkString(", ")}], "info": {${i.mkString(", ")}}}"""
  }
}

object Report {
  /** JSON string literal. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}

object Stats {
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** The smallest sample with at least a share `p` of the sample at or
    * below it: a sample value, never a blend of two latency bands.
    */
  def nearestRank(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else xs.sorted.apply(math.max(0, math.ceil(p * xs.size).toInt - 1))

  /** Heap still live after a full collection, in MB: what the session
    * keeps (cached views, the checkpoint block each release leaves behind).
    */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
}
