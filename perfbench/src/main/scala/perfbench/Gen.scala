package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed always yields the same rows;
  * graft only ever sees the parquet files written here. */
object Gen {

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(path)

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))

  // ---------------------------------------------------------------- orders

  final case class Order(key: Long, cust: Long, date: LocalDateTime, priority: String)
  final case class Line(order: Long, number: Int, quantity: Double)

  /** The generated rows, kept in memory so API answers can be checked. */
  final case class Orders(customers: Int, orders: IndexedSeq[Order], lines: IndexedSeq[Line])

  private val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)

  /** The two tables `QueryApi` reads, with the catalog's TPC-H-like
    * schema at scale factor `sf`: 1.5M·sf orders spread over 150k·sf
    * customers, each order with 1–7 numbered lines (≈6M·sf lineitems). */
  def orders(spark: SparkSession, dir: String, seed: Long, sf: Double): Orders = {
    val r = new SplittableRandom(seed)
    val nCust = math.max(10, (150000 * sf).toInt)
    val nPart = math.max(20, (200000 * sf).toInt)
    val nSupp = math.max(5, (10000 * sf).toInt)
    val nOrd = math.max(50, (1500000 * sf).toInt)
    val orders = (0 until nOrd).map { i =>
      Order(i.toLong, r.nextInt(nCust).toLong, day0.plusDays(r.nextInt(2404)), pick(r, priorities))
    }
    write(spark, orders.map(o => Row(o.key, o.cust, pick(r, Vector("F", "O", "P")),
        money(r, 1000, 500000), o.date, o.priority)),
      StructType(Seq(StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampNTZType), StructField("o_orderpriority", StringType))),
      s"$dir/orders.parquet")

    val lines = orders.flatMap { o =>
      (1 to 1 + r.nextInt(7)).map(n => Line(o.key, n, (1 + r.nextInt(50)).toDouble))
    }
    val lineRows = lines.map { l =>
      Row(l.order, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong, l.number, l.quantity,
        money(r, 900, 105000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        pick(r, Vector("A", "N", "R")), pick(r, Vector("F", "O")),
        orders(l.order.toInt).date.plusDays(1 + r.nextInt(121)))
    }
    write(spark, lineRows,
      StructType(Seq(StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
        StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
        StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
        StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
        StructField("l_shipdate", TimestampNTZType))), s"$dir/lineitem.parquet")
    Orders(nCust, orders, lines)
  }

  // ---------------------------------------------------------------- fab backlog

  /** One planted measurement: the rigid transform the fit must recover. */
  final case class Glass(tool: String, glassid: String, product: String, ts: java.sql.Timestamp,
                         shiftX: Double, shiftY: Double, thetaUrad: Double, flag: Int)

  /** Per tool: its site count, the extra source-only column its sink
    * drops, and its products (a complete design grid, `_NODV` without
    * design values, `_BAD` with an incomplete grid). */
  final case class Tool(id: String, sites: Int, extraCol: String) {
    def good: Seq[String] = Seq(s"${id}_P1", s"${id}_P2")
    def noDv: String = s"${id}_NODV"
    def badGrid: String = s"${id}_BAD"
    def xCols: Seq[String] = (1 to sites).map(i => s"plfn_al${i}_x")
    def yCols: Seq[String] = (1 to sites).map(i => s"plfn_al${i}_y")
    def sinkCols: Seq[String] = Seq("glassid", "product", "tstamp") ++ xCols ++ yCols
  }

  val tools = Seq(Tool("TLCD0801", 16, "recipe_note"), Tool("TLCD0802", 12, "chamber"))

  def dx(i: Int): Double = ((i - 1) / 4) * 100.0
  def dy(i: Int): Double = ((i - 1) % 4) * 50.0

  /** A backlog of `days` day-chunks from `t0`, with `glasses` glasses per
    * tool per day. Each tool and day plants one glass with an "N/A" cell
    * (flag −1), one of a product without design values (−2) and one of
    * a product with an incomplete grid (−3). Writes `index`, one raw
    * table per tool and one design table per tool under `dir`. */
  def fab(spark: SparkSession, dir: String, seed: Long, t0: LocalDateTime,
          days: Int, glasses: Int): Seq[Glass] = {
    val r = new SplittableRandom(seed)
    val planted = for (tool <- tools; d <- 0 until days; g <- 0 until glasses) yield {
      val flag = if (g < 3) -(g + 1) else 1
      val product = flag match {
        case -2 => tool.noDv
        case -3 => tool.badGrid
        case _ => pick(r, tool.good.toIndexedSeq)
      }
      val ts = java.sql.Timestamp.valueOf(t0.plusDays(d).plusSeconds(1 + r.nextInt(86398)))
      Glass(tool.id, f"${tool.id}-D$d%02d-G$g%04d", product, ts,
        money(r, -2, 2), money(r, -2, 2), math.round((r.nextDouble() * 400 - 200) * 1000) / 1000.0, flag)
    }
    val index = planted.map(g => Row(g.tool, g.glassid, g.product, g.ts, s"R${g.product.last}"))
    write(spark, index, StructType(Seq(StructField("toolid", StringType),
        StructField("glassid", StringType), StructField("product", StringType),
        StructField("tstamp", TimestampType), StructField("recipeid", StringType))),
      s"$dir/index")
    tools.foreach { tool =>
      val rows = planted.filter(_.tool == tool.id).map { g =>
        val t = math.tan(g.thetaUrad * 1e-6)
        val xs = (1 to tool.sites).map { i =>
          if (g.flag == -1 && i == 3) "N/A" else (-g.shiftX + dy(i) * t).toString
        }
        val ys = (1 to tool.sites).map(i => (-g.shiftY - dx(i) * t).toString)
        Row.fromSeq(Seq(g.glassid, g.product, g.ts, s"${tool.extraCol}-${r.nextInt(9)}") ++ xs ++ ys)
      }
      write(spark, rows, StructType(
        Seq(StructField("glassid", StringType), StructField("product", StringType),
          StructField("tstamp", TimestampType), StructField(tool.extraCol, StringType)) ++
          (tool.xCols ++ tool.yCols).map(StructField(_, StringType))), s"$dir/raw_${tool.id}")
      val design = (tool.good.flatMap(p => (1 to tool.sites).map(i => Row(p, i, dx(i), dy(i)))) ++
        (1 until tool.sites).map(i => Row(tool.badGrid, i, dx(i), dy(i))))
      write(spark, design, StructType(Seq(StructField("product", StringType),
          StructField("site_idx", IntegerType), StructField("dx", DoubleType),
          StructField("dy", DoubleType))), s"$dir/design_${tool.id}")
    }
    planted
  }
}
