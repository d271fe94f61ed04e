package graft.incremental

import java.sql.Timestamp
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Idempotent slice-overwrite writer (K4/K5 + D5, reference
  * dbs/nikon.py:117-145 DELETE-interval + nikon_ETL.py:349-370 re-insert):
  * replaying a time interval must have exactly-once effect on the overlap.
  *
  * The reference deletes the interval in the sink, then re-inserts the
  * source rows for the same interval. The Spark analog is an overwrite of
  * the time slice: keep = sink ∖ interval, write keep ∪ new.
  *
  * Durability: the table swap keeps the previous table as `<path>.old`
  * until the new one is in place (rename old-out, rename new-in, drop
  * old), and every read path first heals the one crash window (target
  * missing, `.old` present) by renaming it back — a crash at any point
  * loses at most the in-flight chunk, which the watermark replays. A
  * naive delete-then-rename would lose the WHOLE table if the process
  * died between the two calls, which the watermark would never replay.
  *
  * Scale note (100 TB): this local implementation is read-modify-write of
  * the whole table, which is correct but O(table) — fine for the control
  * tables it serves here. On a real deployment the fact tables are
  * date-partitioned and the same contract is `INSERT OVERWRITE` of the
  * affected partitions only (dynamic partition overwrite /
  * `replaceWhere`), i.e. O(slice); the API below is the stable seam where
  * that swap happens, callers don't change.
  */
object SliceStore {

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def oldPath(target: Path) = new Path(target.toString + ".old")

  /** Recover the crash window of [[swapIn]]: target gone, backup present. */
  private def heal(fs: FileSystem, target: Path): Unit = {
    val old = oldPath(target)
    if (!fs.exists(target) && fs.exists(old)) {
      require(fs.rename(old, target), s"heal: rename $old -> $target failed")
    }
  }

  /** Atomically-enough replace target with tmp, never leaving a state
    * without either the old or the new table on disk. */
  private def swapIn(fs: FileSystem, tmp: Path, target: Path): Unit = {
    val old = oldPath(target)
    fs.delete(old, true)
    if (fs.exists(target)) {
      require(fs.rename(target, old), s"swap: rename $target -> $old failed")
    }
    require(fs.rename(tmp, target), s"swap: rename $tmp -> $target failed")
    fs.delete(old, true)
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    heal(fs, p)
    fs.exists(p)
  }

  def read(spark: SparkSession, path: String): DataFrame = {
    heal(fsOf(spark, new Path(path)), new Path(path))
    spark.read.parquet(path)
  }

  /** Overwrite rows of `path` inside the interval with `slice`, preserving
    * all rows outside it. */
  def overwriteSlice(spark: SparkSession, path: String, slice: DataFrame,
                     tsCol: String, s: Timestamp, e: Timestamp,
                     conv: Intervals.Convention = Intervals.OpenClosed): Unit = {
    val target = new Path(path)
    val fs = fsOf(spark, target)
    heal(fs, target)
    val tmp = new Path(path + ".staging")
    fs.delete(tmp, true)
    if (!fs.exists(target)) {
      slice.write.mode(SaveMode.Overwrite).parquet(path)
      return
    }
    val keep = read(spark, path).filter(!conv.contains(col(tsCol), s, e))
    // Align source columns to the sink schema (T1) before the union.
    val aligned = SchemaReconcile.reconcile(slice, keep.columns.toSeq)
    keep.unionByName(aligned).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    swapIn(fs, tmp, target)
  }

  /** Replace the whole table at `path` under the same crash-safe swap:
    * `write` fills the empty staging directory it is given, which then
    * swaps in (used by the watermark store, which writes on the driver). */
  def replaceTable(spark: SparkSession, path: String)(write: Path => Unit): Unit = {
    val target = new Path(path)
    val fs = fsOf(spark, target)
    heal(fs, target)
    val tmp = new Path(path + ".staging")
    fs.delete(tmp, true)
    require(fs.mkdirs(tmp), s"replace: mkdir $tmp failed")
    write(tmp)
    swapIn(fs, tmp, target)
  }
}
