package graft

import java.sql.Timestamp
import graft.flows.EtlMain
import graft.incremental.{Watermark, Watermarks}
import org.apache.spark.sql.functions._

/** The top-level ETL surface over two tools with DRIFTED schemas — the
  * reference's hardest operational case (per-tool column sets differ and
  * change over time, SURVEY §7.4 risk 1): the source has a column the
  * sink lacks (dropped), and a tool whose sink expects a missing column
  * aborts without corrupting the other tool's progress. */
class EtlMainSpec extends SparkTestBase {

  private def ts(s: String) = Timestamp.valueOf(s)
  private def tmp() = java.nio.file.Files.createTempDirectory("graft_etl").toString + "/t"

  test("etl replicates index + per-tool tables, reconciling drifted schemas") {
    val ev = Tables.events(spark, sfDir)
    val index = ev.select(col("event_id"), col("user_id"), col("ts").as("tstamp"))
    // tool a: source has an extra column the sink doesn't store
    val toolA = ev.select(col("event_id"), col("ts").as("tstamp"),
      col("value"), col("props")) // props = source-only extra
    // tool b: a different, narrower schema
    val toolB = ev.select(col("event_id"), col("ts").as("tstamp"), col("event_type"))

    val wm = new Watermarks(spark, tmp())
    val t0 = ts("2024-01-01 00:00:00")
    wm.init(Seq(
      Watermark("EDC_Import", "index", t0, t0),
      Watermark("EDC_Import", "tool_a", t0, t0),
      Watermark("EDC_Import", "tool_b", t0, t0)))

    val aPath = tmp(); val bPath = tmp(); val idxPath = tmp()
    val now = ts("2024-01-03 00:00:00")
    val (nIdx, perTool) = EtlMain.etl(spark, index, idxPath,
      Seq(
        EtlMain.ToolSource("tool_a", toolA, Seq("event_id", "tstamp", "value"), aPath),
        EtlMain.ToolSource("tool_b", toolB, Seq("event_id", "tstamp", "event_type"), bPath)),
      wm, "EDC_Import", "index", now)

    assert(nIdx == 2 && perTool == Map(
      "tool_a" -> EtlMain.ToolResult(2, None), "tool_b" -> EtlMain.ToolResult(2, None)))
    val a = spark.read.parquet(aPath)
    assert(a.columns.toSeq == Seq("event_id", "tstamp", "value"), "extra column not dropped")
    assert(spark.read.parquet(bPath).columns.toSeq == Seq("event_id", "tstamp", "event_type"))
    val expect = ev.filter(col("ts") > t0 && col("ts") <= now).count()
    assert(a.count() == expect && spark.read.parquet(idxPath).count() == expect)
    assert(wm.require("EDC_Import", "tool_a").lastEndTime == now)
  }

  test("a tool whose sink expects a missing column fails alone; LATER tools continue") {
    val ev = Tables.events(spark, sfDir)
    val index = ev.select(col("event_id"), col("ts").as("tstamp"))
    val tool = ev.select(col("event_id"), col("ts").as("tstamp"))
    val wm = new Watermarks(spark, tmp())
    val t0 = ts("2024-01-01 00:00:00")
    wm.init(Seq(
      Watermark("EDC_Import", "index", t0, t0),
      Watermark("EDC_Import", "tool_a_bad", t0, t0),
      Watermark("EDC_Import", "tool_z_good", t0, t0)))
    val idxPath = tmp(); val goodPath = tmp()
    val now = ts("2024-01-02 00:00:00")
    // the failing tool sorts FIRST — the tool after it must still run
    val (_, perTool) = EtlMain.etl(spark, index, idxPath,
      Seq(
        EtlMain.ToolSource("tool_a_bad", tool,
          Seq("event_id", "tstamp", "column_the_source_lost"), tmp()),
        EtlMain.ToolSource("tool_z_good", tool, Seq("event_id", "tstamp"), goodPath)),
      wm, "EDC_Import", "index", now)
    assert(!perTool("tool_a_bad").ok &&
      perTool("tool_a_bad").failure.get.contains("column_the_source_lost"))
    assert(perTool("tool_z_good") == EtlMain.ToolResult(1, None))
    // the index stage and the LATER tool both completed and advanced
    assert(spark.read.parquet(idxPath).count() > 0)
    assert(spark.read.parquet(goodPath).count() > 0)
    assert(wm.require("EDC_Import", "index").lastEndTime == now)
    assert(wm.require("EDC_Import", "tool_z_good").lastEndTime == now)
    // a plan-time abort lands zero chunks, so this tool's watermark is
    // still at its start (a mid-run failure would legitimately leave it
    // advanced past the chunks that landed — see EtlMain.etl's contract)
    assert(wm.require("EDC_Import", "tool_a_bad").lastEndTime == t0)
  }
}
