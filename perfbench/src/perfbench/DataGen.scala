package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic synthetic copy of the TPC-H-ish star schema the engine is
  * developed against (region, nation, customer, supplier, part, orders,
  * lineitem, events, documents, embeddings), at any scale factor, from a
  * fixed seed. Row counts and value distributions follow the reference
  * corpus: uniform foreign keys, integer quantities, 30-word documents with
  * ~5% planted near-duplicates, unit-norm 64-d embeddings, per-user event
  * chains. The same (sf, seed) always writes the same rows, whatever the
  * core count, so a cached copy can be reused across runs.
  */
object DataGen {
  val Version = 1

  private val Vocab = ("spark window merge table column vector stream value data " +
    "small join filter big group hash customer sort order slow line part fast " +
    "row the agg key query a scan batch").split(" ")
  private val Langs = Seq("en" -> 0.41, "de" -> 0.14, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15)
  private val EventTypes = Array("signup", "click", "error", "view", "purchase")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PartTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val PartAdj = Array("large", "hot", "cold", "shiny", "small", "dark", "bright", "old")
  private val PartNoun = Array("ring", "bolt", "gear", "nut", "pipe", "valve", "spring", "screw")
  private val OrderStatus = Array("F", "O", "P")
  private val Flags = Array("A", "N", "R")
  private val Statuses = Array("O", "F")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val DayMs = 86400000L
  private val Epoch1995 = Timestamp.valueOf("1995-01-01 00:00:00").getTime

  /** Rows per table at scale factor 1. */
  def baseRows(sf: Double): Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L,
    "customer" -> math.round(150000 * sf), "supplier" -> math.round(10000 * sf),
    "part" -> math.round(200000 * sf), "orders" -> math.round(1500000 * sf),
    "lineitem" -> math.round(6000000 * sf), "events" -> math.round(1000000 * sf),
    "documents" -> math.round(50000 * sf), "embeddings" -> math.round(20000 * sf))

  def tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  /** Rows generated slice by slice, each slice from its own seeded stream,
    * so the output does not depend on the executor count.
    */
  private def sliced(spark: SparkSession, n: Long, seed: Long, schema: StructType)(
      row: (SplittableRandom, Long) => Row): DataFrame = {
    val slices = math.max(1, math.min(64, (n / 50000 + 1).toInt))
    val per = (n + slices - 1) / slices
    val rdd = spark.sparkContext.parallelize(0 until slices, slices).flatMap { s =>
      val r = new SplittableRandom(seed * 1000003L + s)
      val lo = s * per
      val hi = math.min(n, lo + per)
      (lo until hi).iterator.map(i => row(r, i))
    }
    spark.createDataFrame(rdd, schema)
  }

  private def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)

  def generate(spark: SparkSession, sf: Double, seed: Long, out: String): Unit = {
    val n = baseRows(sf)
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
    val nCust = n("customer"); val nSupp = n("supplier"); val nPart = n("part")
    val nOrd = n("orders")

    write("region", local(spark, Regions.indices.map(i => Row(i, Regions(i))),
      StructType(Seq(StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))))
    write("nation", local(spark, (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)),
      StructType(Seq(StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))))
    write("customer", sliced(spark, nCust, seed + 1, StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))) { (r, i) =>
      Row(i, f"Customer#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99),
        Segments(r.nextInt(Segments.length)))
    })
    write("supplier", sliced(spark, nSupp, seed + 2, StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType)))) { (r, i) =>
      Row(i, f"Supplier#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99))
    })
    write("part", sliced(spark, nPart, seed + 3, StructType(Seq(
      StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_type", StringType),
      StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType)))) { (r, i) =>
      Row(i, s"${PartAdj(r.nextInt(PartAdj.length))} ${PartNoun(r.nextInt(PartNoun.length))}",
        s"Brand#${1 + r.nextInt(25)}", PartTypes(r.nextInt(PartTypes.length)),
        1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)
    })
    write("orders", sliced(spark, nOrd, seed + 4, StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))) {
      (r, i) =>
        Row(i, r.nextLong(nCust), OrderStatus(r.nextInt(3)),
          money(r, 1000.0, 500000.0), new Timestamp(Epoch1995 + r.nextInt(2403) * DayMs),
          Priorities(r.nextInt(Priorities.length)))
    })
    write("lineitem", sliced(spark, n("lineitem"), seed + 5, StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType)))) { (r, _) =>
      Row(r.nextLong(nOrd), r.nextLong(nPart), r.nextLong(nSupp), 1 + r.nextInt(7),
        (1 + r.nextInt(50)).toDouble, money(r, 900.0, 105000.0), r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, Flags(r.nextInt(3)), Statuses(r.nextInt(2)),
        new Timestamp(Epoch1995 + (1 + r.nextInt(2498)) * DayMs))
    })

    // events: one global clock, so ids and timestamps rise together and
    // every user's events form a chain across the month
    locally {
      val r = new SplittableRandom(seed + 6)
      val ne = n("events")
      val users = math.max(1L, ne / 67)
      val start = Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
      val gapUs = 30L * DayMs * 1000L / math.max(1L, ne)
      var t = start
      val rows = (0L until ne).map { i =>
        t += 1 + r.nextLong(2 * gapUs)
        val ts = new Timestamp(t / 1000)
        ts.setNanos(((t % 1000000) * 1000).toInt)
        Row(i, ts, r.nextLong(users), EventTypes(r.nextInt(EventTypes.length)),
          math.round(-math.log(1 - r.nextDouble()) * 50 * 100) / 100.0,
          s"""{"k": ${r.nextInt(100)}}""")
      }
      write("events", local(spark, rows, StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType)))))
    }
    // documents: random word strings; ~5% copy an earlier document and
    // append a marker word, a few copy it verbatim
    locally {
      val r = new SplittableRandom(seed + 7)
      val nd = n("documents").toInt
      val texts = new Array[String](nd)
      val rows = (0 until nd).map { i =>
        val u = r.nextDouble()
        texts(i) =
          if (i > 0 && u < 0.0016) texts(r.nextInt(i))
          else if (i > 0 && u < 0.05) texts(r.nextInt(i)) + " dup"
          else Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
        val lu = r.nextDouble()
        val lang = Langs.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) => (l, acc + p) }
          .drop(1).find(_._2 > lu).map(_._1).getOrElse("zh")
        Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
      }
      write("documents", local(spark, rows, StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))))
    }
    locally {
      val r = new SplittableRandom(seed + 8)
      val rows = (0L until n("embeddings")).map { i =>
        val g = Array.fill(64) {
          // Box-Muller from the seeded stream
          math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())
        }
        val norm = math.sqrt(g.map(x => x * x).sum)
        Row(i, g.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
      }
      write("embeddings", local(spark, rows, StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = false)),
        StructField("label", IntegerType)))))
    }
  }

  /** Key-shifted `copies`x replica of the tables a DP session reads — the
    * same construction as graft.ScaleUp (entity keys shift by copy * 10^9,
    * so per-entity fan-out stays constant while entity count grows), which
    * itself refuses any output directory outside the system temporary
    * directory and so cannot target a checkout.
    */
  def scaleUp(spark: SparkSession, src: String, out: String, copies: Int): Unit = {
    val K = 1000000000L
    def rep(table: String, shifted: Seq[String]): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      (0 until copies).map { c =>
        shifted.foldLeft(base)((df, k) => df.withColumn(k, col(k) + lit(c.toLong * K)))
      }.reduce(_ unionByName _).write.mode("overwrite").parquet(s"$out/$table.parquet")
    }
    rep("lineitem", Seq("l_orderkey"))
    rep("orders", Seq("o_orderkey"))
    rep("events", Seq("event_id", "user_id"))
  }

  /** Row count of each table present under `dir`. */
  def counts(spark: SparkSession, dir: String, names: Seq[String]): Map[String, Long] =
    names.map(t => t -> spark.read.parquet(s"$dir/$t.parquet").count()).toMap
}
