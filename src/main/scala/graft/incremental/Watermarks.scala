package graft.incremental

import java.sql.Timestamp
import org.apache.spark.sql.{Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}

/** The watermark control table (K6/P14, reference `lastendtime`,
  * dbs/nikon.py:19-37,169-186): one row per (apname, toolid) holding the
  * replication high-water mark. Tiny by construction (one row per
  * tool × pipeline), so a whole-table overwrite per advance is exact and
  * cheap at any scale; ordering contract per the reference
  * (nikon_ETL.py:327-334): data first, watermark last.
  *
  * `virtualRecipe` rides along with the watermark row exactly as the
  * reference SELECTs it (dbs/nikon.py:25; the test fixture at
  * tests/test_format.py:20-22 pins it nullable) — flow metadata the
  * AVM/VM stage reads, never interpreted by the runner itself.
  * `enabled` mirrors the reference's `WHERE enabled = 'TRUE'`
  * (dbs/nikon.py:28): a disabled row is invisible to [[Watermarks.get]],
  * so check_flow fails for that pipeline and it cannot run or advance.
  */
case class Watermark(apname: String, toolid: String,
                     lastEndTime: Timestamp, updateTime: Timestamp,
                     virtualRecipe: Option[String] = None,
                     enabled: Boolean = true)

class Watermarks(spark: SparkSession, path: String) {
  import spark.implicits._

  def all(): Seq[Watermark] =
    if (!SliceStore.exists(spark, path)) Seq.empty
    else {
      // Schema-tolerant read of the DURABLE control table: with the case
      // class's schema (no inference job), a table persisted before a
      // column existed reads it as nulls, which take the documented
      // defaults (case-class defaults do NOT apply at decode time).
      spark.read.schema(Encoders.product[Watermark].schema).parquet(path)
        .withColumn("enabled", coalesce(col("enabled"), lit(true)))
        .as[Watermark].collect().toSeq
    }

  /** P14 check_flow: the watermark row must already exist AND be enabled
    * for a flow to run (reference nikon_ETL.py:148-155 over the
    * enabled='TRUE' SELECT, dbs/nikon.py:24-31). */
  def get(apname: String, toolid: String): Option[Watermark] =
    all().find(w => w.apname == apname && w.toolid == toolid && w.enabled)

  def require(apname: String, toolid: String): Watermark = requireAll(apname -> toolid).head

  /** [[require]] for several (apname, toolid) rows over one read. */
  def requireAll(keys: (String, String)*): Seq[Watermark] = {
    val rows = all().filter(_.enabled)
    keys.map { case (a, t) => rows.find(w => w.apname == a && w.toolid == t).getOrElse(
      throw new IllegalStateException(s"no watermark row for ($a, $t) — check_flow failed")) }
  }

  /** K6 upsert: UPDATE last_end_time + update_time for the key, keeping
    * every other row (reference dbs/nikon.py:169-186 + now()). The write
    * goes through SliceStore's crash-safe swap — losing the watermark
    * table to a crash mid-swap would silently re-replicate everything
    * (or, worse, nothing). */
  def advance(apname: String, toolid: String, lastEndTime: Timestamp,
              updateTime: Timestamp = new Timestamp(System.currentTimeMillis())): Unit = {
    val existing = all()
    // UPDATE semantics: only the two time columns move; virtual_recipe
    // and enabled ride along untouched (dbs/nikon.py:169-186)
    val updated = existing.find(w => w.apname == apname && w.toolid == toolid)
      .map(_.copy(lastEndTime = lastEndTime, updateTime = updateTime))
      .getOrElse(Watermark(apname, toolid, lastEndTime, updateTime))
    val rows = existing.filterNot(w => w.apname == apname && w.toolid == toolid) :+ updated
    SliceStore.replaceTable(spark, path, rows.toDS().coalesce(1).toDF())
  }

  def init(rows: Seq[Watermark]): Unit =
    rows.toDS().coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)
}
