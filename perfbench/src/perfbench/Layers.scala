package perfbench

/** Per-layer metrics of a traced run: span totals and counts per layer over
  * its traced repetitions, Spark work tallied per launching span, and the
  * tracing overhead against the untraced repetition paired with each traced
  * one.
  */
object Layers {
  val DpFamilies = Seq("count", "clamped", "quantile", "hist", "join", "ids", "keyset", "detect")
  private val Probe = "^(isEmpty|head|take|count|collect|first|limit|show)\\b".r
  private val Checkpoint = "^(localCheckpoint|checkpoint)\\b".r

  def report(r: Report, plain: Segment, pairs: Seq[(Rep, Rep)], tracer: Tracer): Unit = {
    val spans = tracer.allSpans
    val jobs = tracer.jobsBySpan()
    val byName = spans.groupBy(_.name)
    def total(n: String) = byName.getOrElse(n, Nil).map(_.seconds).sum
    def count(n: String) = byName.getOrElse(n, Nil).size.toDouble
    def jobsIn(n: String) = byName.getOrElse(n, Nil).flatMap(s => jobs.getOrElse(s.id, Nil))
    def put(n: String, v: Double, u: String) = r.put(n, v, u)

    put("ir.analyze_s", total("ir.analyze"), "s")
    put("ir.analyze_n", count("ir.analyze"), "count")
    put("compile.lower_s", total("compile.lower"), "s")
    put("compile.lower_n", count("compile.lower"), "count")
    put("compile.lower_jobs", jobsIn("compile.lower").size, "count")
    put("catalyst.plan_s", total("catalyst.plan"), "s")
    put("session.build_s", total("session.build"), "s")
    put("session.build_n", count("session.build"), "count")
    put("session.release_s", total("session.release"), "s")
    put("session.release_n", count("session.release"), "count")
    put("session.release_jobs", jobsIn("session.release").size, "count")
    put("session.fetch_s", total("session.fetch"), "s")
    put("session.view_s", total("session.view"), "s")
    put("session.view_n", count("session.view"), "count")
    put("session.partition_s", total("session.partition"), "s")
    put("session.partition_n", count("session.partition"), "count")
    // every job launched inside a release op, per release
    val releaseOps = byName.getOrElse("session.fetch", Nil).map(_.op).toSet
    val releaseJobs = spans.filter(s => releaseOps.contains(s.op))
      .map(s => jobs.getOrElse(s.id, Nil).size).sum
    put("session.jobs_per_release",
      if (releaseOps.isEmpty) 0.0 else releaseJobs.toDouble / releaseOps.size, "count")

    // family medians from the untraced segment: tracing cannot shift them
    val plainOps = plain.medianOps
    def familyP50(f: String) = {
      val xs = plain.pooled.filter(_.family == f).map(_.latency)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    DpFamilies.foreach(f => put(s"dp.${f}_p50_s", familyP50(f), "s"))

    put("pipeline.construct_s", total("pipeline.construct"), "s")
    put("pipeline.plan_s", total("pipeline.plan"), "s")
    put("pipeline.exec_s", total("pipeline.exec"), "s")
    put("pipeline.ops_n", count("pipeline.construct"), "count")
    val construct = jobsIn("pipeline.construct")
    val checkpoints = construct.count(j => Checkpoint.findFirstIn(j.callSite).isDefined)
    val probes = construct.count(j => Probe.findFirstIn(j.callSite).isDefined)
    put("pipeline.construct_jobs", construct.size, "count")
    put("pipeline.exec_jobs", jobsIn("pipeline.exec").size, "count")
    put("pipeline.checkpoint_jobs", checkpoints, "count")
    put("pipeline.probe_jobs", probes, "count")
    put("pipeline.probe_ratio", if (construct.isEmpty) 0.0 else probes.toDouble / construct.size,
      "ratio")
    put("pipeline.driver_s", byName.getOrElse("pipeline.construct", Nil)
      .map(s => tracer.uncovered(s, jobs.getOrElse(s.id, Nil))).sum, "s")
    // per pass: each query's median over the timed passes
    PipelineWorkload.Families.foreach { case (f, _) =>
      put(s"pipeline.${f}_s", plainOps.filter(o =>
        PipelineWorkload.FamilyOf.get(o.family).contains(f)).map(_.latency).sum, "s")
    }

    val all = jobs.values.flatten.toSeq
    put("executor.jobs", all.size, "count")
    put("executor.tasks", all.map(_.tasks).sum, "count")
    put("executor.cpu_s", all.map(_.cpuNs).sum / 1e9, "s")
    put("executor.run_s", all.map(_.runMs).sum / 1e3, "s")
    put("executor.gc_s", all.map(_.gcMs).sum / 1e3, "s")
    put("executor.task_wait_s", all.map(_.waitMs).sum / 1e3, "s")
    put("executor.shuffle_write_mb", all.map(_.shuffleWriteBytes).sum / 1048576.0, "MB")
    put("executor.spill_mb", all.map(_.spillBytes).sum / 1048576.0, "MB")
    put("executor.input_mb", all.map(_.inputBytes).sum / 1048576.0, "MB")
    put("executor.failed_tasks", all.map(_.failedTasks).sum, "count")

    // tracing overhead and span closure, each traced repetition against the
    // untraced one paired with it
    val (untraced, traced) = pairs.unzip
    def rate(rs: Seq[Rep]) = rs.map(_.ops.size).sum / rs.map(_.seconds).sum
    put("trace.overhead_pct", 100.0 * (rate(untraced) - rate(traced)) / rate(untraced), "%")
    val opSpans = spans.filter(s => s.name.startsWith("op.") && s.op >= 0)
    val children = spans.filter(s => s.parent >= 0).groupBy(_.parent)
    val coverage = opSpans.map { o =>
      children.getOrElse(o.id, Nil).map(_.seconds).sum / math.max(o.seconds, 1e-9) }
    put("trace.span_coverage", if (coverage.isEmpty) 0.0 else Stats.median(coverage), "ratio")
    // op i of a traced repetition ran the same script step as op i of its
    // paired untraced one: its child spans should add up to that latency
    val pairedLatency = pairs.flatMap { case (u, t) =>
      t.ops.zip(u.ops).map { case (to, uo) => to.index -> uo.latency } }.toMap
    val ratios = opSpans.flatMap { o =>
      pairedLatency.get(o.op).map(children.getOrElse(o.id, Nil).map(_.seconds).sum / _)
    }
    put("trace.span_sum_ratio", if (ratios.isEmpty) 0.0 else Stats.median(ratios), "ratio")
    put("trace.ops_n", opSpans.size, "count")
  }

  /** Every span, with the jobs it launched, as JSON lines in an array. */
  def spansJson(tracer: Tracer): String = {
    val jobs = tracer.jobsBySpan()
    tracer.allSpans.map { s =>
      val js = jobs.getOrElse(s.id, Nil)
      // jobs by the action that launched them ("localCheckpoint", "count", ...)
      val sites = js.groupBy(_.callSite.takeWhile(_ != ' ')).toSeq.sortBy(_._1)
        .map { case (a, v) => s"${Report.quote(a)}: ${v.size}" }.mkString("{", ", ", "}")
      f"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "op": ${s.op}, """ +
        f""""start_s": ${s.start / 1e9}%.6f, "end_s": ${s.end / 1e9}%.6f, "jobs": ${js.size}, """ +
        f""""tasks": ${js.map(_.tasks).sum}, "cpu_s": ${js.map(_.cpuNs).sum / 1e9}%.6f, """ +
        s""""actions": $sites}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
