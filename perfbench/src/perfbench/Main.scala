package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark (run.py drives it).
  *
  *   prepare <dataRoot> <cores> <sparkLocalDir> <dataset,...>
  *                                  build or re-verify the named datasets
  *   run key=value...               one measured run; writes a JSON report
  *
  * Run keys: workload, seconds, trace (0|1), cores, data, local (Spark
  * scratch), out; DP: script, exact (answer cache); pipeline: order, results
  * (where the first pass writes each result), oracles.
  */
/** One repetition of the session (or pass): its ops and its wall seconds. */
final case class Rep(ops: Seq[OpRec], seconds: Double)

/** The repetitions of one segment: op i of every repetition ran the same
  * step. The first `warmup` repetitions pay JIT and cache warm-up and are
  * left out of every figure; the rest are pooled.
  */
final case class Segment(reps: Seq[Rep], warmup: Int) {
  def timed: Seq[Rep] = reps.drop(warmup)
  def pooled: Seq[OpRec] = timed.flatMap(_.ops)
  def opsPerSecond: Double = pooled.size / timed.map(_.seconds).sum
  /** Each op with its median latency over the timed repetitions. */
  lazy val medianOps: Seq[OpRec] = timed.head.ops.indices.map(i =>
    timed.head.ops(i).copy(latency = Stats.median(timed.map(_.ops(i).latency))))
}

object Main {
  val DataSeed = 20261017L
  /** Spark starts in set-up; setup_s keeps their median. */
  val SetupRuns = 3
  /** Timed repetitions at least, however short --seconds is. */
  val MinTimedReps = 3

  def startSpark(cores: Int, local: String): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", s"$local/warehouse")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("prepare") => prepare(args(1), args(2).toInt, args(3), args(4).split(",").toSeq)
    case Some("run") =>
      val kv = args.drop(1).map { a => val Array(k, v) = a.split("=", 2); k -> v }.toMap
      run(kv)
    case _ =>
      System.err.println("usage: perfbench.Main prepare <dataRoot> <cores> <local> <datasets> | run key=value...")
      sys.exit(2)
  }

  /** Datasets: name -> (scale factor, copies of sf0.1 for the scaled one). */
  val Datasets: Seq[(String, Double)] = Seq("sf0.01" -> 0.01, "sf0.1" -> 0.1)
  val Copies = 8
  val ScaledTables: Seq[String] = Seq("lineitem", "orders", "events")

  /** Generate every dataset whose manifest is missing or whose row counts
    * no longer verify; keep the rest.
    */
  def prepare(root: String, cores: Int, local: String, wanted: Seq[String]): Unit = {
    val spark = startSpark(cores, local)
    def manifest(dir: String) = Paths.get(s"$dir/MANIFEST")
    def expected(name: String): Map[String, Long] = name match {
      case "sf0.1x8" =>
        DataGen.baseRows(0.1).filter(t => ScaledTables.contains(t._1)).map { case (t, n) => t -> n * Copies }
      case _ => DataGen.baseRows(Datasets.toMap.apply(name))
    }
    def verifies(name: String): Boolean = {
      val dir = s"$root/$name"
      Files.exists(manifest(dir)) &&
        Files.readString(manifest(dir)).trim == s"version=${DataGen.Version} seed=$DataSeed" && {
          val want = expected(name)
          try DataGen.counts(spark, dir, want.keys.toSeq) == want
          catch { case _: Throwable => false }
        }
    }
    def seal(name: String): Unit = {
      val dir = s"$root/$name"
      val want = expected(name)
      val got = DataGen.counts(spark, dir, want.keys.toSeq)
      require(got == want, s"$name row counts $got != $want")
      Files.writeString(manifest(dir), s"version=${DataGen.Version} seed=$DataSeed\n")
      println(s"prepared $name: ${got.toSeq.sortBy(_._1).map { case (t, n) => s"$t=$n" }.mkString(" ")}")
    }
    // the scaled copy is built from sf0.1
    val needed = wanted.toSet ++ (if (wanted.contains("sf0.1x8")) Set("sf0.1") else Set.empty)
    for ((name, sf) <- Datasets if needed(name) && !verifies(name)) {
      Files.deleteIfExists(manifest(s"$root/$name"))
      DataGen.generate(spark, sf, DataSeed, s"$root/$name")
      seal(name)
    }
    if (needed("sf0.1x8") && !verifies("sf0.1x8")) {
      Files.deleteIfExists(manifest(s"$root/sf0.1x8"))
      DataGen.scaleUp(spark, s"$root/sf0.1", s"$root/sf0.1x8", Copies)
      seal("sf0.1x8")
    }
    spark.stop()
  }

  private def jvmStartNanos: Long = {
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    System.nanoTime() - (System.currentTimeMillis() - startMs) * 1000000L
  }

  def run(kv: Map[String, String]): Unit = {
    val t00 = jvmStartNanos
    val workload = kv("workload")
    val seconds = kv("seconds").toDouble
    val traced = kv("trace") == "1"
    val cores = kv("cores").toInt
    val data = kv("data")
    val isDp = workload.startsWith("dp_")
    val script = if (isDp) Some(Script.parse(Files.readString(Paths.get(kv("script"))))) else None
    val order = if (isDp) Nil else kv("order").split(",").toSeq
    val report = new Report

    // set-up: Spark start and table registration (open the workload's
    // tables), three times, the median kept; then the warm-up, which is the
    // first repetition of the timed session (or pass). setup_s is the sum.
    var spark: SparkSession = null
    var tables: DpTables = null
    val startTimes = (1 to SetupRuns).map { i =>
      val t0 = if (i == 1) t00 else System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = startSpark(cores, kv("local"))
      if (isDp) tables = new DpTables(spark, data)
      else Seq("lineitem", "orders", "supplier", "documents", "embeddings")
        .foreach(t => spark.read.parquet(s"$data/$t.parquet").schema)
      (System.nanoTime() - t0) / 1e9
    }
    report.info("start_runs_s") = startTimes.map(v => f"$v%.3f").mkString("[", ", ", "]")

    def newWorkload(tracer: Tracer): Workload =
      if (isDp) new DpWorkload(spark, tables, tracer, script.get)
      else new PipelineWorkload(spark, data, tracer, order)
    val workloads = mutable.ArrayBuffer.empty[Workload]
    var repIndex = 0
    def repetition(w: Workload, dumpTo: Option[String]): Rep = {
      val (before, t1) = (w.ops.size, System.nanoTime())
      val setAside = w.repetition(repIndex, dumpTo)
      repIndex += 1
      Rep(w.ops.slice(before, w.ops.size).toSeq, (System.nanoTime() - t1) / 1e9 - setAside)
    }

    // the warm-up repetition, then timed repetitions of the same session
    // (or pass): at least MinTimedReps, and on until `seconds` have passed.
    // The warm-up pass writes the pipeline results out for the oracles.
    val plainW = newWorkload(new Tracer(spark.sparkContext, enabled = false))
    workloads += plainW
    val reps = mutable.ArrayBuffer(repetition(plainW, kv.get("results")))
    while (reps.size <= MinTimedReps || reps.drop(1).map(_.seconds).sum < seconds)
      reps += repetition(plainW, None)
    val plain = Segment(reps.toSeq, warmup = 1)
    report.put("setup_s", Stats.median(startTimes) + plain.reps.head.seconds, "s")

    // traced: untraced and traced repetitions alternate, U T T U, each on a
    // workload of its own, so warm-up drift cancels within the two pairs
    // (U1, T1) and (U2, T2) that the overhead and span sums compare
    val tracer = new Tracer(spark.sparkContext, enabled = traced)
    val pairs: Seq[(Rep, Rep)] = if (!traced) Nil else {
      val (u, t) = (newWorkload(new Tracer(spark.sparkContext, enabled = false)), newWorkload(tracer))
      workloads ++= Seq(u, t)
      val u1 = repetition(u, None)
      val t1 = repetition(t, None)
      val t2 = repetition(t, None)
      Seq(u1 -> t1, repetition(u, None) -> t2)
    }
    val peakRss = Stats.peakRssMb()
    val liveHeap = Stats.liveHeapMb()
    val tVerify = System.nanoTime()

    // correctness: DP releases against the infinite-budget answers
    workloads.foreach {
      case w: DpWorkload =>
        w.verify(kv("exact"))
        report.errors ++= w.budgetErrors
        report.failed += w.budgetErrors.size
      case _ =>
    }
    val allOps = workloads.flatMap(_.ops)
    report.attempted = allOps.size
    report.failed = math.min(report.attempted, report.failed + allOps.count(!_.ok))
    report.errors ++= allOps.filter(!_.ok).map(_.error)
    report.info("counts") = workloads.collect {
      case w: PipelineWorkload =>
        w.counts.map { case (q, cs) => s""""$q": [${cs.mkString(", ")}]""" }.mkString("{", ", ", "}")
    }.mkString("[", ", ", "]")

    val lat = plain.pooled.map(_.latency)
    report.put("ops_per_s", plain.opsPerSecond, "ops/s")
    report.put("op_p50_s", Stats.median(lat), "s")
    report.put("op_p90_s", Stats.nearestRank(lat, 0.9), "s")
    report.put("jvm.peak_rss_mb", peakRss, "MB")
    report.put("jvm.live_heap_mb", liveHeap, "MB")
    if (traced) Layers.report(report, plain, pairs, tracer)
    report.info("verify_s") = f"${(System.nanoTime() - tVerify) / 1e9}%.3f"
    report.info("ops") = plain.pooled.size.toString
    report.info("rep_latencies") = plain.reps.map(_.ops.map(_.latency).mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")
    report.info("rep_seconds") = plain.reps.map(r => f"${r.seconds}%.4f").mkString("[", ", ", "]")
    report.info("families") = plain.pooled.groupBy(_.family).toSeq.sortBy(_._1)
      .map { case (f, os) => s""""$f": [${os.size}, ${Stats.median(os.map(_.latency))}]""" }
      .mkString("{", ", ", "}")
    if (traced) Files.writeString(Paths.get(kv("out") + ".spans.json"), Layers.spansJson(tracer))
    kv.get("oracles").foreach(path => Files.writeString(Paths.get(path), graft.SparkEntry.oracleSql
      .map { case (q, sql) => s"${Report.quote(q)}: ${Report.quote(sql)}" }.mkString("{", ", ", "}")))
    spark.stop()
    Files.writeString(Paths.get(kv("out")), report.json)
  }

}
