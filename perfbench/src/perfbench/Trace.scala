package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed boundary: a layer call inside an op, or the op itself. Times
  * are nanoseconds since the tracer was created.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Per-job facts the listener collects; tallied by job group once the bus
  * has drained, never snapshotted while jobs are in flight.
  */
final class JobTally {
  var group: String = null
  var callSite: String = ""
  var startMs: Long = 0L
  var endMs: Long = 0L
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var waitMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
}

/** Span recorder plus the SparkListener that attributes each Spark job to
  * the span that launched it. Every span runs under its own job group
  * ("pb-<span id>"); the parent's group is restored on exit. When disabled,
  * `span` only runs its body.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String)]
  private var nextId = 0
  var currentOp: Int = -1

  private val jobs = mutable.LinkedHashMap.empty[Int, JobTally]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmitted = mutable.Map.empty[Int, Long]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = new JobTally
      j.group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      // the result stage is named after the action's call site
      j.callSite = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      j.startMs = e.time
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmitted(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        if (e.taskInfo.failed) j.failedTasks += 1
        stageSubmitted.get(e.stageId).foreach(s =>
          j.waitMs += math.max(0L, e.taskInfo.launchTime - s))
        Option(e.taskMetrics).foreach { m =>
          j.cpuNs += m.executorCpuTime
          j.runMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          j.inputBytes += m.inputMetrics.bytesRead
        }
      }
  }
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = if (stack.isEmpty) -1 else stack.top._1
      stack.push((id, name))
      sc.setJobGroup(s"pb-$id", name)
      val start = System.nanoTime() - t0
      try body
      finally {
        spans += Span(id, name, parent, currentOp, start, System.nanoTime() - t0)
        stack.pop()
        if (stack.isEmpty) sc.clearJobGroup()
        else sc.setJobGroup(s"pb-${stack.top._1}", stack.top._2)
      }
    }

  def allSpans: Seq[Span] = spans.toSeq

  /** Drain the listener bus, then group every job by the span that ran it. */
  def jobsBySpan(): Map[Int, Seq[JobTally]] = {
    if (!enabled) return Map.empty
    org.apache.spark.BenchBus.drain(sc)
    sc.removeSparkListener(listener)
    jobs.values.toSeq.collect {
      case j if j.group != null && j.group.startsWith("pb-") => j.group.drop(3).toInt -> j
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  /** Wall time in `s` that no job of `js` covered (driver self time). */
  def uncovered(s: Span, js: Seq[JobTally]): Double = {
    val lo = s.start / 1000000 + t0Ms
    val hi = s.end / 1000000 + t0Ms
    val iv = js.map(j => (math.max(lo, j.startMs), math.min(hi, j.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var cur = lo
    iv.foreach { case (a, b) =>
      val a1 = math.max(a, cur)
      if (b > a1) { covered += b - a1; cur = b }
    }
    math.max(0L, hi - lo - covered) / 1000.0
  }

  private val t0Ms = System.currentTimeMillis() - (System.nanoTime() - t0) / 1000000
}
