package perfbench

import java.sql.Timestamp
import java.time.LocalDateTime
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.QueryApi
import graft.flows.{EtlMain, RotRunner}
import graft.incremental.{Watermark, Watermarks}

/** One timed public call: its name, latency and the rows it returned. */
final case class Op(name: String, ms: Double, rows: Long)

/** State shared by a run: the session, the tracer, the op log and the
  * tally of attempted and failed operations. */
final class Ctx(val spark: SparkSession, val tr: Tracer) {
  val ops = mutable.ArrayBuffer[Op]()
  var attempted = 0
  private val failedOps = mutable.LinkedHashMap[Int, String]()

  private var thrown: Throwable = null

  def failed: Int = failedOps.size
  def failures: Seq[String] = failedOps.values.toSeq

  /** Charge an exception that escaped a pass to a failed operation,
    * unless the call that threw has already been charged. */
  def abort(e: Throwable): Unit = if (e ne thrown) {
    attempted += 1
    failedOps(attempted) = s"pass aborted: ${e.getClass.getSimpleName}: ${e.getMessage}"
  }

  /** Time one public call. Returns the op's sequence number with the
    * result, so later output checks can charge a failure to it. */
  def call[T](name: String)(body: => T): (Int, T) = {
    attempted += 1
    val id = attempted
    val t0 = System.nanoTime()
    val out =
      try tr.span(name)(body)
      catch { case e: Exception =>
        failedOps(id) = s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        thrown = e
        throw e
      }
    ops += Op(name, (System.nanoTime() - t0) / 1e6, 0)
    (id, out)
  }

  def rows(n: Long): Unit = ops(ops.size - 1) = ops.last.copy(rows = n)

  def check(op: Int, ok: Boolean, what: => String): Unit =
    if (!ok && !failedOps.contains(op)) failedOps(op) = what
}

/** A workload: inputs made from a seed, and one pass of public calls
  * whose outputs it checks. */
trait Workload {
  /** Write the seeded inputs under `dir`. */
  def setup(spark: SparkSession, dir: String, seed: Long): Unit
  /** One pass: every public call of the workload once, outputs checked. */
  def pass(ctx: Ctx, dir: String, i: Int): Unit
  /** Unmeasured passes run before the measured ones. */
  def warmupPasses: Int
  /** Extra figures for the result file (name → value). */
  def extras(dir: String): Map[String, Any] = Map.empty
}

object Fingerprint {
  /** (row count, sum of per-row xxhash64): equal for equal multisets. */
  def apply(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }
}

/** The fab lifecycle: `EtlMain.etl` replicates the index table and two
  * tools with drifted schemas over a backlog of day chunks, `EtlMain.rot`
  * and `EtlMain.avm` trail it on the first tool, then every watermark is
  * rewound `replayDays` chunks and the whole lifecycle replays them.
  * The second tool is replicated only: its analytics would run the same
  * code again and double the pass's Spark jobs. */
final class EtlLifecycle(days: Int, glasses: Int, replayDays: Int) extends Workload {
  private val t0 = LocalDateTime.of(2024, 3, 1, 0, 0)
  private def ts(t: LocalDateTime) = Timestamp.valueOf(t)
  private val now = ts(t0.plusDays(days))
  private var planted: Seq[Gen.Glass] = Nil
  private var expected: Map[String, (Long, BigDecimal)] = Map.empty
  private var lastSinks: Seq[String] = Nil

  /** A batch ETL run starts in a fresh process, so it is measured cold. */
  val warmupPasses = 0
  private val tool = Gen.tools.head // the tool ROT and AVM analyse
  private val ShiftTol = 1e-5
  private val ThetaTolUrad = 0.05
  private val Edc = "EDC_Import"
  private val Rot = "ROT_Transform"
  private val Avm = "AVM_Process"

  def setup(spark: SparkSession, dir: String, seed: Long): Unit = {
    planted = Gen.fab(spark, dir, seed, t0, days, glasses)
    // what replication must land: every generated row, projected on the sink
    expected = (("index", Fingerprint(spark.read.parquet(s"$dir/index"))) +:
      Gen.tools.map(t => t.id -> Fingerprint(spark.read.parquet(s"$dir/raw_${t.id}")
        .select(t.sinkCols.map(col): _*)))).toMap
  }

  def pass(ctx: Ctx, dir: String, i: Int): Unit = {
    val spark = ctx.spark
    val p = s"$dir/pass$i"
    val wm = new Watermarks(spark, s"$p/lastendtime")
    val start = ts(t0)
    wm.init(("index" +: Gen.tools.map(_.id)).map(t => Watermark(Edc, t, start, start)) ++
      Seq(Watermark(Rot, tool.id, start, start), Watermark(Avm, tool.id, start, start)))
    val sinks = ("index" -> s"$p/sink_index") +: Gen.tools.map(t => t.id -> s"$p/sink_${t.id}")
    lastSinks = sinks.map(_._2)
    def outs(flow: String) =
      RotRunner.RotOutputs(s"$p/$flow/header", s"$p/$flow/detail", s"$p/$flow/errors")
    def sources = Gen.tools.map(t => EtlMain.ToolSource(t.id,
      spark.read.parquet(s"$dir/raw_${t.id}"), t.sinkCols, s"$p/sink_${t.id}"))

    def lifecycle(prefix: String, chunks: Int): Unit = {
      val (etlOp, (nIdx, perTool)) = ctx.call(s"$prefix.etl") {
        EtlMain.etl(spark, spark.read.parquet(s"$dir/index"), s"$p/sink_index", sources,
          wm, Edc, "index", now)
      }
      ctx.check(etlOp, nIdx == chunks && perTool.values.forall(_ == EtlMain.ToolResult(chunks, None)),
        s"$prefix.etl ran $nIdx index chunks and $perTool, expected $chunks each")
      val design = spark.read.parquet(s"$dir/design_${tool.id}")
      val (rotOp, nRot) = ctx.call(s"$prefix.rot") {
        EtlMain.rot(spark, spark.read.parquet(s"$p/sink_${tool.id}"), design, wm, tool.id, Rot, Edc, outs("rot"))
      }
      ctx.check(rotOp, nRot == chunks, s"$prefix.rot ran $nRot chunks, expected $chunks")
      val (avmOp, nAvm) = ctx.call(s"$prefix.avm") {
        EtlMain.avm(spark, spark.read.parquet(s"$p/sink_${tool.id}"), wm, tool.id, Avm, Rot, outs("avm"))
      }
      ctx.check(avmOp, nAvm == chunks, s"$prefix.avm ran $nAvm chunks, expected $chunks")
    }

    val etlOp = ctx.attempted + 1 // then rot and avm, in that order
    lifecycle("flows", days)
    checkFlows(ctx, etlOp + 1, etlOp + 2, outs("rot"), outs("avm"))
    val outputs = sinks.map(_._2) ++ Seq(outs("rot"), outs("avm"))
      .flatMap(o => Seq(o.headerPath, o.detailPath, o.errorPath))
    val before = outputs.map(o => Fingerprint(spark.read.parquet(o)))
    // replicated rows equal the generated rows in (start, now]
    sinks.map(_._1).zip(before).foreach { case (name, got) =>
      ctx.check(etlOp, got == expected(name), s"sink $name holds $got, generated ${expected(name)}")
    }
    ctx.tr.span("flows.replay") {
      val back = ts(t0.plusDays(days - replayDays))
      ctx.call("replay.rewind") {
        (("index" +: Gen.tools.map(_.id)).map(Edc -> _) ++ Seq(Rot -> tool.id, Avm -> tool.id))
          .foreach { case (app, tool) => wm.advance(app, tool, back) }
      }
      lifecycle("replay", replayDays)
    }
    val after = outputs.map(o => Fingerprint(spark.read.parquet(o)))
    outputs.indices.filter(k => before(k) != after(k)).foreach { k =>
      ctx.check(etlOp, ok = false, s"replay changed ${outputs(k)}: ${before(k)} -> ${after(k)}")
    }
  }

  /** ROT fits recover the planted transforms; error rows per flag equal
    * the planted defects; AVM covers every complete measurement. */
  private def checkFlows(ctx: Ctx, rotOp: Int, avmOp: Int,
                         rot: RotRunner.RotOutputs, avm: RotRunner.RotOutputs): Unit = {
    val spark = ctx.spark
    val mine = planted.filter(_.tool == tool.id)
    val good = mine.filter(_.flag == 1).map(g => g.glassid -> g).toMap
    val fits = spark.read.parquet(rot.headerPath)
      .select("glassid", "shift_x", "shift_y", "theta_urad").collect()
    ctx.check(rotOp, fits.map(_.getString(0)).toSet == good.keySet && fits.length == good.size,
      s"rot: ${fits.length} fits for ${good.size} good glasses")
    // tolerances: the L-BFGS-B solver's precision on noise-free sites
    val bad = fits.filter { r =>
      good.get(r.getString(0)).forall(g => math.abs(r.getDouble(1) - g.shiftX) > ShiftTol ||
        math.abs(r.getDouble(2) - g.shiftY) > ShiftTol || math.abs(r.getDouble(3) - g.thetaUrad) > ThetaTolUrad)
    }
    ctx.check(rotOp, bad.isEmpty, s"rot: ${bad.length} fits miss the planted transform, e.g. " +
      bad.headOption.map(r => s"$r vs ${good.get(r.getString(0))}").getOrElse(""))
    def flags(path: String) = spark.read.parquet(path).groupBy("flag").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val plantedFlags = mine.filter(_.flag < 0).groupBy(_.flag).map { case (f, gs) => f -> gs.size.toLong }
    val rotFlags = flags(rot.errorPath)
    ctx.check(rotOp, rotFlags == plantedFlags, s"rot error flags $rotFlags, planted $plantedFlags")
    val avmFlags = flags(avm.errorPath)
    ctx.check(avmOp, avmFlags == plantedFlags.filter(_._1 == -1), s"avm error flags $avmFlags")
    val avmRows = spark.read.parquet(avm.headerPath).count()
    ctx.check(avmOp, avmRows == mine.count(_.flag != -1), s"avm: $avmRows header rows")
  }

  /** Parquet bytes the sinks hold after the last pass (the base of
    * SliceStore's write amplification). */
  override def extras(dir: String): Map[String, Any] =
    Map("final_sink_bytes" -> lastSinks.map(p => Files.bytesUnder(new java.io.File(p))).sum)
}

/** One closed-loop client of `QueryApi`. Each pass is a block of fifteen
  * calls, every (call, batch size) pair once, in seeded order; about one
  * id in ten names a glass that does not exist. */
final class ApiLookup(sf: Double) extends Workload {
  private var data: Gen.Orders = _
  private var rng: SplittableRandom = _
  private var byCust: Map[Long, IndexedSeq[Gen.Order]] = Map.empty
  private var byOrder: Map[Long, IndexedSeq[Gen.Line]] = Map.empty

  /** A query service answers from a warm process. */
  val warmupPasses = 1
  val kinds = Seq("history", "data", "raw_sql", "raw_join", "missing")
  val sizes = Seq(1, 10, 200)

  def setup(spark: SparkSession, dir: String, seed: Long): Unit = {
    data = Gen.orders(spark, dir, seed, sf)
    byCust = data.orders.groupBy(_.cust)
    byOrder = data.lines.groupBy(_.order)
    rng = new SplittableRandom(seed * 31 + 7)
  }

  private def ids(n: Int): Seq[Long] = Seq.fill(n) {
    if (rng.nextInt(10) == 0) (data.customers + rng.nextInt(data.customers)).toLong
    else rng.nextInt(data.customers).toLong
  }

  def pass(ctx: Ctx, dir: String, i: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val block = for (k <- kinds; n <- sizes) yield (k, ids(n))
    val order = block.indices.map(j => j -> rng.nextDouble()).sortBy(_._2).map(_._1)
    order.map(block).foreach { case (kind, req) =>
      val (op, got) = ctx.call(s"api.$kind") {
        val df = ctx.tr.span(s"api.$kind.plan") {
          val idDf = req.toDF("glass_id")
          val q = kind match {
            case "history" => QueryApi.glassHistory(spark, dir, idDf)
            case "data" => QueryApi.glassData(spark, dir, QueryApi.glassHistory(spark, dir, idDf))
            case "raw_sql" => QueryApi.glassRawData(spark, dir, idDf, subquery = true)
            case "raw_join" => QueryApi.glassRawData(spark, dir, idDf, subquery = false)
            case "missing" => QueryApi.missingIds(spark, dir, idDf)
          }
          q.queryExecution.executedPlan
          q
        }
        ctx.tr.span(s"api.$kind.exec")(df.collect())
      }
      ctx.rows(got.length)
      val want = expected(kind, req)
      val have = got.toSeq.map(r => kind match {
        case "history" => Seq(r.getLong(0), r.getLong(1))
        case "missing" => Seq(r.getLong(0))
        case "data" => Seq[Any](r.getLong(0), r.getLong(1), r.getInt(3), r.getDouble(4))
        case _ => Seq[Any](r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))
      })
      ctx.check(op, have == want,
        s"api.$kind on ${req.size} ids: ${have.size} rows, expected ${want.size}")
    }
  }

  /** The answer computed from the generated rows, in the API's order. */
  private def expected(kind: String, req: Seq[Long]): Seq[Seq[Any]] = {
    val hits = req.distinct.sorted.flatMap(c => byCust.getOrElse(c, Nil))
      .sortBy(o => (o.cust, o.date.toString, o.key))
    def lines = hits.sortBy(o => (o.cust, o.key)).flatMap(o =>
      byOrder.getOrElse(o.key, Nil).sortBy(_.number).map(l => (o, l)))
    kind match {
      case "history" => hits.map(o => Seq(o.cust, o.key))
      case "missing" => req.distinct.sorted.filterNot(byCust.contains).map(Seq(_))
      case _ => lines.map { case (o, l) => Seq[Any](o.cust, o.key, l.number, l.quantity) }
    }
  }
}

object Files {
  def bytesUnder(f: java.io.File): Long =
    if (f.isFile) { if (f.getName.endsWith(".parquet")) f.length() else 0L }
    else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
}
