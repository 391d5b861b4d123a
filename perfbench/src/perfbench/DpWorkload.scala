package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.accounting.{AddOneRow, AddRowsWithID}
import graft.budget._
import graft.compile.{Catalog, MeasurementPlanner}
import graft.exec.{NoiseInfo, NoiseMechanism}
import graft.ir.Query
import graft.session.Session

/** The three private tables every analyst session reads. */
final class DpTables(spark: SparkSession, dir: String) {
  val lineitem: DataFrame = spark.read.parquet(s"$dir/lineitem.parquet")
  val orders: DataFrame = spark.read.parquet(s"$dir/orders.parquet")
  val events: DataFrame = spark.read.parquet(s"$dir/events.parquet")
    .select("event_id", "user_id", "event_type", "value")

  def session(budget: PrivacyBudget): Session = new Session.Builder()
    .withPrivacyBudget(budget)
    .withPrivateDataFrame("lineitem", lineitem, AddOneRow())
    .withPrivateDataFrame("orders", orders, AddOneRow())
    .withPrivateDataFrame("events", events, AddRowsWithID("user_id", "users"))
    .withIdSpace("users")
    .build(spark)
}

/** A release as the analyst saw it, kept for the post-run checks. */
final case class Released(op: OpRec, step: Step, view: Option[Step], schema: StructType,
    rows: Array[Row])

/** DP workloads: analyst sessions from the generated script, run closed loop
  * by one client. An op is a release (`evaluate` + `collect`), a cached
  * `createView`, or a `partitionAndCreate`.
  */
final class DpWorkload(spark: SparkSession, tables: DpTables, tracer: Tracer,
    session: ScriptSession) extends Workload {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val releases = mutable.ArrayBuffer.empty[Released]
  val budgetErrors = mutable.ArrayBuffer.empty[String]

  def repetition(index: Int, dumpTo: Option[String]): Double = { runSession(session); 0.0 }

  private def runSession(ss: ScriptSession): Unit = {
    val s = tracer.span("session.build")(tables.session(ss.budget))
    var view: Option[Step] = None
    ss.steps.foreach { step =>
      val idx = ops.size
      tracer.currentOp = idx
      val t0 = System.nanoTime()
      var out: Option[(StructType, Array[Row])] = None
      val err = try {
        tracer.span(s"op.${step.family}") {
          step.kind match {
            case "view" =>
              tracer.span("session.view")(s.createView(Script.view(step), "bulky", cache = true))
              view = Some(step)
            case "partition" =>
              tracer.span("session.partition")(s.partitionAndCreate("lineitem",
                step.budget.get, "l_returnflag",
                Seq("part_a" -> "A", "part_n" -> "N", "part_r" -> "R")))
            case "release" =>
              out = Some(
                if (tracer.enabled) tracedRelease(s, Script.query(step), step.budget.get)
                else {
                  val df = s.evaluate(Script.query(step), step.budget.get)
                  (df.schema, df.collect())
                })
          }
        }
        ""
      } catch { case e: Throwable => s"${step.line}: ${e.getClass.getSimpleName}: ${e.getMessage}" }
      val rec = OpRec(idx, ss.id, step.family, (System.nanoTime() - t0) / 1e9, err.isEmpty, err)
      ops += rec
      out.foreach { case (schema, rows) =>
        releases += Released(rec, step, view.filter(_ => step.params.get("table").contains("bulky")),
          schema, rows)
      }
    }
    tracer.currentOp = -1
    if (s.remainingPrivacyBudget != ss.expectRemaining)
      budgetErrors += s"session ${ss.id}: remaining ${s.remainingPrivacyBudget}, " +
        s"expected ${ss.expectRemaining}"
  }

  /** `Session.evaluate` + `collect`, one public call per layer, in the order
    * evaluate makes them, each under its own span. The session's private
    * catalog and accountant are reached by reflection so the budget is
    * charged exactly as evaluate charges it.
    */
  private def tracedRelease(s: Session, q: Query, budget: PrivacyBudget): (StructType, Array[Row]) = {
    Reflect.call(s, "checkActive")
    if (budget.isZero) throw new IllegalArgumentException(
      "You need a non-zero privacy budget to evaluate a query.")
    val adjusted = PrivacyBudget.adjustToRemaining(budget, s.remainingPrivacyBudget)
    val cat = Reflect.call(s, "catalog").asInstanceOf[Catalog]
    tracer.span("ir.analyze")(q.expr.schema(cat.schemas))
    val out = tracer.span("compile.lower")(
      new MeasurementPlanner(cat, adjusted, spark).compile(q.expr))
    tracer.span("catalyst.plan")(out.df.queryExecution.executedPlan)
    Reflect.call(s, "spend", out.spend)
    val rel = tracer.span("session.release")(MeasurementPlanner.releaseOnce(out.df, out.noise))
    (rel.schema, tracer.span("session.fetch")(rel.collect()))
  }

  /** Post-run checks of every release against the infinite-budget answer.
    * That answer is computed once per distinct query (and view) outside the
    * timed loop, and kept under `cacheDir` for later runs of the same build
    * on the same tables.
    */
  def verify(cacheDir: String): Unit = {
    val exact = mutable.Map.empty[(Option[String], String), (StructType, Array[Row])]
    val noise = mutable.Map.empty[(Option[String], String), Seq[NoiseInfo]]
    val infinite = mutable.Map.empty[Option[String], Session]
    val finite = mutable.Map.empty[Option[String], Session]
    def key(r: Released) = (r.view.map(_.line), r.step.line.replaceAll("budget=\\S+", ""))
    def withView(cache: mutable.Map[Option[String], Session], v: Option[Step], b: PrivacyBudget) =
      cache.getOrElseUpdate(v.map(_.line), {
        val s = tables.session(b)
        v.foreach(st => s.createView(Script.view(st), "bulky", cache = true))
        s
      })
    def exactAnswer(r: Released, q: Query): (StructType, Array[Row]) = {
      val k = key(r)
      val path = s"$cacheDir/" + java.security.MessageDigest.getInstance("SHA-256")
        .digest(k.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(32)
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/_SUCCESS")))
        withView(infinite, r.view, ApproxDPBudget(Rat.Inf, Rat.zero))
          .evaluate(q, ApproxDPBudget(Rat.Inf, Rat.zero))
          .write.mode("overwrite").parquet(path)
      val df = spark.read.parquet(path)
      (df.schema, df.collect())
    }
    releases.filter(_.op.ok).foreach { r =>
      val problems = try {
        val q = Script.query(r.step)
        val (es, erows) = exact.getOrElseUpdate(key(r), exactAnswer(r, q))
        val ni = if (r.step.family == "detect") Nil
          else noise.getOrElseUpdate(key(r), withView(finite, r.view,
            ApproxDPBudget(Rat(1000), Rat(BigInt(1), BigInt(2)))).noiseInfo(q, r.step.budget.get))
        Checks.release(r, es, erows, ni)
      } catch { case e: Throwable => Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      if (problems.nonEmpty) {
        r.op.ok = false
        r.op.error = s"${r.step.line}: ${problems.take(3).mkString("; ")}"
      }
    }
    (infinite.values ++ finite.values).foreach(_.stop())
  }
}

object Checks {
  private def keyCols(s: Step): Seq[String] = s.family match {
    case "count" => Nil
    case "clamped" => Seq("l_returnflag", "l_linestatus")
    case "quantile" => Seq("l_returnflag")
    case "hist" => if (s.p("kind") == "histogram") Seq("qty_bin") else Nil
    case "join" => Seq("o_orderpriority")
    case "ids" => Seq("event_type")
    case "keyset" =>
      if (s.p("with_status") == "1") Seq("l_suppkey", "l_returnflag", "l_linestatus")
      else Seq("l_suppkey", "l_returnflag")
    case "detect" => s.p("cols").split(",").toSeq
  }

  private def num(v: Any): Double = v match {
    case n: java.lang.Number => n.doubleValue
    case null => Double.NaN
    case other => other.toString.toDouble
  }

  private def sd(m: NoiseMechanism): Option[Double] = m match {
    case NoiseMechanism.Laplace(b) => Some(b)
    case NoiseMechanism.Geometric(b) => Some(b)
    case NoiseMechanism.Gaussian(v) => Some(math.sqrt(v))
    case NoiseMechanism.DiscreteGaussian(v) => Some(math.sqrt(v))
    case _ => None
  }

  /** Everything wrong with one release; empty when it passes. */
  def release(r: Released, es: StructType, erows: Array[Row], ni: Seq[NoiseInfo]): Seq[String] = {
    val out = Seq.newBuilder[String]
    val names = r.schema.fieldNames.toSeq
    if (names != es.fieldNames.toSeq)
      out += s"schema ${names.mkString(",")} != ${es.fieldNames.mkString(",")}"
    val kc = keyCols(r.step)
    def k(row: Row): Seq[Any] = kc.map(c => row.get(row.fieldIndex(c)))
    val relKeys = r.rows.map(k)
    val exKeys = erows.map(k)
    if (r.step.family == "detect") {
      val extra = relKeys.toSet -- exKeys.toSet
      if (extra.nonEmpty) out += s"detected ${extra.size} keys that are not true keys"
    } else {
      if (relKeys.sortBy(_.mkString("\u0001")).toSeq != exKeys.sortBy(_.mkString("\u0001")).toSeq)
        out += s"key rows differ: ${relKeys.length} released vs ${exKeys.length} expected"
      else {
        val byKey = erows.map(row => k(row) -> row).toMap
        if (Script.additive(r.step)) ni.foreach { n =>
          sd(n.mechanism).filter(_ => names.contains(n.column)).foreach { scale =>
            r.rows.foreach { row =>
              val got = num(row.get(row.fieldIndex(n.column)))
              val want = num(byKey(k(row)).get(row.fieldIndex(n.column)))
              if (!(math.abs(got - want) <= 40 * scale))
                out += f"${n.column}=$got%.3f is ${math.abs(got - want) / scale}%.1f scales from $want%.3f"
            }
          }
        }
        if (r.step.family == "quantile") {
          val (lo, hi) = (r.step.d("lo"), r.step.d("hi"))
          r.rows.foreach { row =>
            val v = num(row.get(row.fieldIndex("qv")))
            if (!(v >= lo && v <= hi)) out += s"quantile $v outside [$lo, $hi]"
          }
        }
      }
    }
    out.result()
  }
}

/** Calls a private method of the session by name (Scala may mangle it). */
object Reflect {
  def call(target: AnyRef, name: String, args: AnyRef*): AnyRef = {
    val m = target.getClass.getDeclaredMethods
      .find(m => (m.getName == name || m.getName.endsWith("$$" + name)) &&
        m.getParameterCount == args.size)
      .getOrElse(throw new NoSuchMethodException(s"${target.getClass.getName}.$name"))
    m.setAccessible(true)
    try m.invoke(target, args: _*)
    catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
  }
}
