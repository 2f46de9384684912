package tickbench

import java.time.LocalDateTime
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of the registry's input tables, in the schemas of the
  * project's TPC-H-like test data (region, nation, customer, supplier,
  * part, orders, lineitem, events) at the row counts of its sf0.01 set.
  * Prices and rates have two decimals and event timestamps are distinct,
  * as the registry's exact oracle comparisons expect. Each table is one
  * parquet file under `<dir>/<name>.parquet/`.
  */
object TableGen {
  val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events")

  private def ts(s: Long): LocalDateTime =
    LocalDateTime.ofEpochSecond(s / 1000000L, ((s % 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC)
  private val day = 86400L * 1000000L
  private val d1995 = 788918400L * 1000000L // 1995-01-01 in µs
  private def cents(c: Long): Double = c / 100.0

  private def f(name: String, t: DataType) = StructField(name, t)

  /** Schema and rows of every table for `seed`. */
  def rows(seed: Long): Seq[(String, StructType, Seq[Row])] = {
    def r(table: Int, i: Long) = TickGen.rng(seed, (table.toLong << 40) + i)
    val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, i) => Row(i, n) }
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val customer = (0L until 1500L).map { i =>
      val g = r(3, i)
      Row(i, f"Customer#$i%09d", g.nextInt(25), cents(g.nextLong(-99999L, 999999L)),
        segments(g.nextInt(segments.length)))
    }
    val supplier = (0L until 100L).map { i =>
      val g = r(4, i)
      Row(i, f"Supplier#$i%09d", g.nextInt(25), cents(g.nextLong(-99999L, 999999L)))
    }
    val adj = Seq("small", "red", "blue", "hot", "green", "tiny", "dark")
    val noun = Seq("ring", "widget", "bolt", "gear", "valve", "spring")
    val types = Seq("ECONOMY", "SMALL", "PROMO", "STANDARD", "LARGE", "MEDIUM")
    val part = (0L until 2000L).map { i =>
      val g = r(5, i)
      Row(i, s"${adj(g.nextInt(adj.length))} ${noun(g.nextInt(noun.length))}",
        s"Brand#${1 + g.nextInt(25)}", types(g.nextInt(types.length)),
        1 + g.nextInt(50), cents(90000L + (i % 1000) * 10))
    }
    val prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orders = (0L until 15000L).map { i =>
      val g = r(6, i)
      Row(i, g.nextLong(1500L), Seq("F", "O", "P")(g.nextInt(3)),
        cents(100000L + g.nextLong(49900000L)), ts(d1995 + g.nextLong(2404L) * day),
        prio(g.nextInt(prio.length)))
    }
    val lineitem = (0L until 15000L).flatMap { o =>
      val g = r(7, o)
      (1 to 1 + g.nextInt(7)).map { ln =>
        val qty = 1 + g.nextInt(50)
        Row(o, g.nextLong(2000L), g.nextLong(100L), ln, qty.toDouble,
          cents(qty * (90000L + g.nextLong(20000L))), cents(g.nextLong(11L)),
          cents(g.nextLong(9L)), Seq("A", "N", "R")(g.nextInt(3)),
          Seq("F", "O")(g.nextInt(2)), ts(d1995 + 1 * day + g.nextLong(2500L) * day))
      }
    }
    val kinds = Seq("view", "click", "purchase", "signup", "error")
    val t0 = 1704067200L * 1000000L // 2024-01-01 in µs
    val eg = r(8, 0)
    var at = t0
    val events = (0L until 10000L).map { i =>
      at += 1 + eg.nextLong(340000000L)
      Row(i, ts(at), eg.nextLong(150L), kinds(eg.nextInt(kinds.length)),
        cents(1L + eg.nextLong(9999L)), s"""{"k": ${eg.nextInt(100)}}""")
    }
    Seq(
      ("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))), region),
      ("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))), nation),
      ("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
        f("c_mktsegment", StringType))), customer),
      ("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))), supplier),
      ("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))), part),
      ("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))), orders),
      ("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType),
        f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
        f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampNTZType))), lineitem),
      ("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
        f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
        f("props", StringType))), events))
  }

  /** Write every table under `dir`; returns the row count per table. */
  def write(spark: SparkSession, seed: Long, dir: String): Map[String, Long] =
    rows(seed).map { case (name, schema, rs) =>
      spark.createDataFrame(rs.asJava, schema).repartition(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
      name -> rs.length.toLong
    }.toMap
}
