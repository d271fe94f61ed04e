package graft.flows

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.incremental.{IncrementalRunner, SchemaReconcile, Watermarks}

/** The reference's top-level entry point (`etlmain()` →
  * `ETL.etl('EDC_Import')` → `ETL.rot('ROT_Transform', 'EDC_Import')`,
  * reference nikon_ETL.py:627-636, 293-336, 425-499) as one composed
  * surface: replicate the shared index table, replicate each per-tool
  * raw table (with schema reconciliation against its sink — tool schemas
  * drift independently, T1), then run the windowed analytics trailing
  * the replication watermark. A user of the reference's `etlmain` runs
  * this instead.
  *
  * Per-tool processing is a driver loop (D6) because each tool has its
  * own schema and sink — but within a tool every step is a distributed
  * job, and tools could run concurrently from independent drivers (their
  * state is disjoint: per-(apname, toolid) watermark rows).
  */
object EtlMain {

  case class ToolSource(toolid: String, raw: DataFrame, sinkColumns: Seq[String], sinkPath: String)

  /** Per-tool outcome: chunks replicated, or the failure that stopped
    * this tool (other tools keep running — their state is disjoint). */
  case class ToolResult(chunks: Int, failure: Option[String]) {
    def ok: Boolean = failure.isEmpty
  }

  /** @return (index chunks run, per-tool results). A tool whose
    * replication aborts (e.g. a schema-reconcile refusal: the sink has
    * columns the source lost, T1) is recorded as failed and does NOT
    * stop later tools — the reference's per-tool isolation holds for
    * every tool, not just the ones sorted before the failure.
    *
    * Partial-progress contract on failure: `replicate` advances the
    * watermark after EACH landed chunk (data first, watermark last), so
    * a tool that fails mid-run keeps the chunks that landed and the next
    * run resumes from the advanced watermark — nothing is lost and the
    * D5 slice overwrite makes any replayed boundary chunk exact. A
    * plan-time abort (like the reconcile refusal) lands zero chunks and
    * leaves the watermark at its start. `ToolResult.chunks` counts only
    * what a SUCCESSFUL run completed (0 on failure — consult the
    * watermark for how far a failed tool got). */
  def etl(spark: SparkSession,
          index: DataFrame, indexSinkPath: String,
          tools: Seq[ToolSource],
          wm: Watermarks, apname: String, indexToolid: String,
          now: Timestamp): (Int, Map[String, ToolResult]) = {
    // §3.1 step 3: index table replication (dbtransfer)
    val n = IncrementalRunner.replicate(spark, index, "tstamp", indexSinkPath,
      wm, apname, indexToolid, now)
    // §3.1 step 4: per-tool replication with schema reconciliation
    val perTool = tools.sortBy(_.toolid).map { t => // sorted loop, reference nikon_ETL.py:385
      val result =
        try ToolResult(IncrementalRunner.replicate(spark, t.raw, "tstamp", t.sinkPath,
          wm, apname, t.toolid, now,
          transform = df => SchemaReconcile.reconcile(df, t.sinkColumns)), None)
        catch { case e: Exception =>
          ToolResult(0, Some(Option(e.getMessage).getOrElse(e.getClass.getName))) }
      t.toolid -> result
    }.toMap
    (n, perTool)
  }

  /** §3.2: the analytics stage trailing replication — see RotRunner. */
  def rot(spark: SparkSession, raw: DataFrame, designValues: DataFrame,
          wm: Watermarks, toolid: String, rotApp: String, upstream: String,
          out: RotRunner.RotOutputs): Int =
    RotRunner.run(spark, raw, designValues, wm, toolid, rotApp, upstream, out)

  /** The AVM instance (reference `ETL.avm`, nikon_ETL.py:549-590): the
    * SECOND windowed pipeline over the same raw table and the same
    * watermark table, trailing the ROT watermark — AVM may only analyze
    * windows ROT has finished — with its own (avmApp, toolid) row
    * advancing independently. */
  def avm(spark: SparkSession, raw: DataFrame,
          wm: Watermarks, toolid: String, avmApp: String, rotApp: String,
          out: RotRunner.RotOutputs): Int =
    RotRunner.runWindowed(raw, wm, toolid, avmApp, rotApp, out, AvmFlow.run(_))
}
