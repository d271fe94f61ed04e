package graft.incremental

import java.sql.Timestamp
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.{NanoTime, SimpleGroup}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, BOOLEAN, INT64, INT96}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.DateTimeUtils

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

/** The table's I/O runs on the driver with parquet-hadoop, no Spark job:
  * a read-modify-write of ≤ tool × pipeline rows is driver-sized, and a
  * Spark round trip per advance would cost more than the chunk it
  * follows. Writes are one `part-00000.parquet` whose fields match
  * `Encoders.product[Watermark].schema` (timestamps as INT64
  * TIMESTAMP(MICROS)), so Spark still reads the table; reads decode that
  * and every timestamp form Spark writes (INT96, its default, which
  * tables written before used; INT64 MICROS or MILLIS). Every write,
  * [[init]] included, goes through
  * SliceStore's crash-safe swap.
  */
class Watermarks(spark: SparkSession, path: String) {
  import Watermarks._

  private def conf = spark.sparkContext.hadoopConfiguration

  /** Every row of the table, read file by file (names starting with `_`
    * or `.` are not data, as in Spark). Schema-tolerant: a table
    * persisted before a column existed reads it as absent, which takes
    * the documented defaults. */
  def all(): Seq[Watermark] =
    if (!SliceStore.exists(spark, path)) Seq.empty
    else {
      val dir = new Path(path)
      dir.getFileSystem(conf).listStatus(dir).toSeq.map(_.getPath)
        .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
        .sortBy(_.getName).flatMap { file =>
          val reader = ParquetReader.builder(new GroupReadSupport(), file).withConf(conf).build()
          try Iterator.continually(reader.read()).takeWhile(_ != null).map(decode).toList
          finally reader.close()
        }
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
    init(existing.filterNot(w => w.apname == apname && w.toolid == toolid) :+ updated)
  }

  /** Replace the whole table with `rows`. */
  def init(rows: Seq[Watermark]): Unit = SliceStore.replaceTable(spark, path) { dir =>
    val file = HadoopOutputFile.fromPath(new Path(dir, "part-00000.parquet"), conf)
    val writer = ExampleParquetWriter.builder(file).withConf(conf).withType(Schema).build()
    try rows.foreach(w => writer.write(encode(w))) finally writer.close()
  }
}

object Watermarks {

  /** The parquet form of `Encoders.product[Watermark].schema`. */
  private val Schema: MessageType = {
    val str = LogicalTypeAnnotation.stringType()
    val micros = LogicalTypeAnnotation.timestampType(true, TimeUnit.MICROS)
    Types.buildMessage()
      .optional(BINARY).as(str).named("apname")
      .optional(BINARY).as(str).named("toolid")
      .optional(INT64).as(micros).named("lastEndTime")
      .optional(INT64).as(micros).named("updateTime")
      .optional(BINARY).as(str).named("virtualRecipe")
      .required(BOOLEAN).named("enabled")
      .named("spark_schema")
  }

  private def encode(w: Watermark): Group = {
    val g = new SimpleGroup(Schema)
    Option(w.apname).foreach(g.add("apname", _))
    Option(w.toolid).foreach(g.add("toolid", _))
    Option(w.lastEndTime).foreach(t => g.add("lastEndTime", DateTimeUtils.fromJavaTimestamp(t)))
    Option(w.updateTime).foreach(t => g.add("updateTime", DateTimeUtils.fromJavaTimestamp(t)))
    w.virtualRecipe.foreach(g.add("virtualRecipe", _))
    g.add("enabled", w.enabled)
    g
  }

  /** One row in any schema the table was written with: an absent or
    * null field reads as null, `virtualRecipe` as None and `enabled` as
    * true (case-class defaults do not apply at decode time). */
  private def decode(g: Group): Watermark = {
    val t = g.getType
    def has(f: String) = t.containsField(f) && g.getFieldRepetitionCount(f) > 0
    def str(f: String) = if (has(f)) Some(g.getString(f, 0)) else None
    def ts(f: String): Timestamp = if (!has(f)) null else DateTimeUtils.toJavaTimestamp(
      t.getType(f).asPrimitiveType().getPrimitiveTypeName match {
        case INT96 => // Spark's legacy default: Julian day + nanos of day
          val nt = NanoTime.fromBinary(g.getInt96(f, 0))
          DateTimeUtils.fromJulianDay(nt.getJulianDay, nt.getTimeOfDayNanos)
        case _ => t.getType(f).getLogicalTypeAnnotation match {
          case a: TimestampLogicalTypeAnnotation if a.getUnit == TimeUnit.MILLIS => g.getLong(f, 0) * 1000
          case _ => g.getLong(f, 0) // TIMESTAMP(MICROS)
        }
      })
    Watermark(str("apname").orNull, str("toolid").orNull, ts("lastEndTime"), ts("updateTime"),
      str("virtualRecipe"), !has("enabled") || g.getBoolean("enabled", 0))
  }
}
