package perfbench

import graft.budget._
import graft.constraints.{MaxRowsPerID, TruncationStrategy}
import graft.ir._
import graft.keyset.KeySet

/** One line of a generated DP script: `kind [budget] key=value...`. */
final case class Step(kind: String, family: String, budget: Option[PrivacyBudget],
    params: Map[String, String], line: String) {
  def p(k: String): String = params.getOrElse(k,
    throw new IllegalArgumentException(s"script line lacks '$k': $line"))
  def i(k: String): Int = p(k).toInt
  def d(k: String): Double = p(k).toDouble
}

/** An analyst session of the script: its budget and its steps in order. */
final case class ScriptSession(id: String, budget: PrivacyBudget, steps: Seq[Step],
    expectRemaining: PrivacyBudget)

/** The DP script the generator emits (see gen_script.py). The JVM side only
  * turns each line into the query it names; every choice — families,
  * parameters, budgets, order — is made by the generator from the seed.
  */
object Script {
  /** `approx:1/5:1/100000` -> ApproxDPBudget, exact rationals. */
  def budget(s: String): PrivacyBudget = {
    def rat(x: String): Rat = x.split("/") match {
      case Array(n, d) => Rat(BigInt(n), BigInt(d))
      case Array(n)    => Rat(BigInt(n), BigInt(1))
    }
    s.split(":") match {
      case Array("approx", e, d) => ApproxDPBudget(rat(e), rat(d))
      case _ => throw new IllegalArgumentException(s"bad budget '$s'")
    }
  }

  /** The script's one session: a `session` line, its steps, an `end` line. */
  def parse(text: String): ScriptSession = {
    val lines = text.linesIterator.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    def words(l: String) = l.split("\\s+").toSeq
    def params(l: String) = words(l).filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    require(lines.size >= 2 && words(lines.head).head == "session" && words(lines.last).head == "end",
      "a script is one session: a 'session' line, its steps, an 'end' line")
    val steps = lines.slice(1, lines.size - 1).map { l =>
      val w = words(l)
      w.head match {
        case "view" | "partition" => Step(w.head, w.head, params(l).get("budget").map(budget), params(l), l)
        case "release" => Step("release", w(1), Some(budget(params(l)("budget"))), params(l), l)
        case other => throw new IllegalArgumentException(s"unknown script line '$other'")
      }
    }
    ScriptSession(words(lines.head)(1), budget(params(lines.head)("budget")), steps,
      budget(params(lines.last)("remaining")))
  }

  val FlagStatus: KeySet = KeySet.fromColumn("l_returnflag", Seq("A", "N", "R")) *
    KeySet.fromColumn("l_linestatus", Seq("F", "O"))
  val Flags: KeySet = KeySet.fromColumn("l_returnflag", Seq("A", "N", "R"))
  val EventTypes: KeySet = KeySet.fromColumn("event_type",
    Seq("click", "error", "purchase", "signup", "view"))
  val Priorities: KeySet = KeySet.fromColumn("o_orderpriority",
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))

  /** The view a session creates: a filtered projection of lineitem. */
  def view(s: Step): QueryBuilder =
    QueryBuilder("lineitem").filter(s"l_quantity >= ${s.i("min_qty")}")
      .select("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")

  /** The query a release line names. */
  def query(s: Step): Query = s.family match {
    case "count" =>
      QueryBuilder(s.p("table")).filter(s"l_quantity > ${s.i("min_qty")}").count()
    case "clamped" =>
      val g = QueryBuilder(s.p("table")).groupby(FlagStatus)
      val (c, hi) = (s.p("col"), s.d("hi"))
      s.p("agg") match {
        case "sum"   => g.sum(c, 0, hi)
        case "avg"   => g.average(c, 0, hi)
        case "var"   => g.variance(c, 0, hi)
        case "stdev" => g.stdev(c, 0, hi)
      }
    case "quantile" =>
      QueryBuilder("lineitem").groupby(Flags)
        .quantile(s.p("col"), s.d("q"), s.d("lo"), s.d("hi"), name = "qv")
    case "hist" => s.p("kind") match {
      case "histogram" =>
        val w = s.i("width")
        QueryBuilder("lineitem").histogram("l_quantity",
          BinningSpec((0 to 50 by w).map(_.toDouble)), Some("qty_bin"))
      case "distinct" =>
        QueryBuilder("events").filter(s"value >= ${s.d("min_value")}")
          .select("user_id").countDistinct(Seq("user_id"), name = "n_users")
    }
    case "join" =>
      val orders = QueryBuilder("orders").rename(Map("o_orderkey" -> "l_orderkey"))
      QueryBuilder("lineitem").filter(s"l_quantity >= ${s.i("min_qty")}")
        .joinPrivate(orders, TruncationStrategy.DropExcess(s.i("left_k")),
          TruncationStrategy.DropExcess(s.i("right_k")), Some(Seq("l_orderkey")))
        .groupby(Priorities).count()
    case "ids" =>
      val g = QueryBuilder("events").enforce(MaxRowsPerID(s.i("max_rows"))).groupby(EventTypes)
      if (s.p("agg") == "sum") g.sum("value", 0, s.d("hi"), name = "value_sum") else g.count()
    case "keyset" =>
      val supp = KeySet.fromColumn("l_suppkey", (0L until s.p("supp").toLong).toSeq)
      val ks = if (s.p("with_status") == "1") supp * FlagStatus else supp * Flags
      QueryBuilder("lineitem").groupby(ks).count()
    case "detect" =>
      QueryBuilder("lineitem").filter(s"l_quantity > ${s.i("min_qty")}")
        .groupby(KeySet.detect(s.p("cols").split(",").toIndexedSeq: _*)).count()
    case other => throw new IllegalArgumentException(s"unknown family '$other'")
  }

  /** Output columns whose noise is additive on the released value itself
    * (counts and sums), as opposed to ratios of noisy parts.
    */
  def additive(s: Step): Boolean = s.family match {
    case "clamped" => s.p("agg") == "sum"
    case "quantile" | "detect" => false
    case _ => true
  }
}
