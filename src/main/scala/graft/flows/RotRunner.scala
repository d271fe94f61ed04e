package graft.flows

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import graft.incremental.{Intervals, Watermarks}

/** The windowed analytics driver (reference `ETL.rot`,
  * nikon_ETL.py:425-499): walk the interval between the analytics
  * watermark and the upstream replication watermark in ≤86400 s chunks
  * (≤30 per run), run the ROT flow on each chunk's slice, append
  * header/detail/error outputs, and advance the analytics watermark —
  * data first, watermark last, so a crash replays at most one chunk.
  *
  * The reference re-reads each chunk from the DB inside Rscript
  * (SURVEY §3.2 "double-read"); here the slice is the same DataFrame fed
  * straight to RotFlow, which scans it once per chunk; the design gates
  * are computed once per run, on its first chunk.
  */
object RotRunner {

  case class RotOutputs(headerPath: String, detailPath: String, errorPath: String)

  /** The ROT instance: trails the replication watermark and runs the
    * rigid-fit flow per chunk.
    * @param raw       full wide raw table with a `tstamp` timestamp column
    * @param rotApp    watermark key of this analytics flow (e.g. "ROT_Transform")
    * @param upstream  watermark key of the replication flow it trails (e.g. "EDC_Import")
    * @return chunks processed
    */
  def run(spark: SparkSession, raw: DataFrame, designValues: DataFrame,
          wm: Watermarks, toolid: String, rotApp: String, upstream: String,
          out: RotOutputs,
          stepSeconds: Long = 86400L, maxChunks: Int = 30): Int = {
    lazy val design = RotFlow.prepare(spark, raw, designValues)
    runWindowed(raw, wm, toolid, rotApp, upstream, out,
      slice => RotFlow.run(slice, design), stepSeconds, maxChunks)
  }

  /** The generic windowed-analytics engine the reference instantiates
    * twice — ROT trailing replication (nikon_ETL.py:425-499) and AVM
    * trailing ROT (nikon_ETL.py:549-590) — over one shared watermark
    * table: walk [this flow's watermark, upstream's watermark) in
    * ≤`stepSeconds` chunks, run `flow` on each chunk's slice, land the
    * outputs, advance this flow's watermark. Instances share nothing but
    * the watermark table; their (apname, toolid) rows advance
    * independently, which is what lets both pipelines run concurrently
    * against one control table.
    */
  def runWindowed(raw: DataFrame,
                  wm: Watermarks, toolid: String, apname: String, upstream: String,
                  out: RotOutputs, flow: DataFrame => RotFlow.RotResult,
                  stepSeconds: Long = 86400L, maxChunks: Int = 30): Int = {
    // one read serves both ends; end: only analyze upstream-complete data
    val Seq(start, end) = wm.requireAll(apname -> toolid, upstream -> toolid).map(_.lastEndTime)
    if (!start.before(end)) return 0
    val chunks = Intervals.chunks(start, end, stepSeconds, maxChunks)
    chunks.foreach { case (s, e) =>
      // analytics reads use the [s, e) convention (reference dbs/nikon.py:111-112)
      val slice = raw.filter(Intervals.ClosedOpen.contains(col("tstamp"), s, e))
      val res = flow(slice)
      // D5: outputs land in a chunk=<startMillis> partition, overwritten
      // atomically per chunk — a crash-before-watermark replay rewrites
      // the same partition instead of appending duplicates. On a real
      // deployment this is the same dynamic-partition-overwrite contract
      // as SliceStore, partitioned by chunk instead of filtered by time.
      def writeChunk(df: DataFrame, path: String): Unit =
        df.write.mode(SaveMode.Overwrite).parquet(s"$path/chunk=${s.getTime}")
      try {
        writeChunk(res.header, out.headerPath)
        writeChunk(res.detail, out.detailPath)
        writeChunk(res.errors, out.errorPath)
      } finally graft.Caches.release() // free the chunk's flow caches
      wm.advance(apname, toolid, new Timestamp(e.getTime))
    }
    chunks.size
  }
}
