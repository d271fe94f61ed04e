package graft.incremental

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Structured result sinks of the analytics stage. */
object Sinks {

  /** K7 — header/detail insert with a shared surrogate key (reference
    * R/pg_db.R:62-111: `WITH ins AS (INSERT ... RETURNING rot_id), ins2 AS
    * (INSERT ... SELECT rot_id FROM ins)`): a header id propagated to
    * detail rows.
    *
    * The DB's serial is replaced with `xxhash64(natural key)`: globally
    * unique w.h.p. ACROSS batches/chunks (a per-invocation row_number
    * would restart at 1 every chunk and collide in a partitioned sink),
    * deterministic under D5 replay (unlike monotonically_increasing_id,
    * which is partition-dependent and would orphan detail rows), and
    * computed without any global sort — a pure narrow projection at any
    * scale. Returns (header with rot_id, detail with rot_id).
    */
  def headerDetail(header: DataFrame, detail: DataFrame,
                   naturalKey: Seq[String]): (DataFrame, DataFrame) = {
    val h = header.withColumn("rot_id", xxhash64(naturalKey.map(col): _*))
    val d = detail.join(broadcast(h.select((naturalKey :+ "rot_id").map(col): _*)), naturalKey)
    (h, d)
  }

  /** K8 — dead-letter sink (reference R/pg_db.R:114-139 + flag taxonomy at
    * R/tlcd_nikonrot.R:142-196,263-272): rows that fail a pipeline stage
    * are appended to an errors table with a reason flag instead of
    * aborting the batch. Flags mirror the reference:
    *   1 ok, −1 missing data, −2 no design values, −3 bad grid, −4 fit error. */
  val FlagOk = 1
  val FlagMissing = -1
  val FlagNoDesign = -2
  val FlagBadGrid = -3
  val FlagFitError = -4

  def deadLetter(rows: DataFrame, flag: Int, description: String): DataFrame =
    rows.withColumn("flag", lit(flag)).withColumn("description", lit(description))

  /** P12 — missing-value split (reference R/tlcd_nikonrot.R:168-196 +
    * R/basic_fun.R:76-80): partition a frame into (clean, flagged-missing)
    * on NULL or NaN in the measurement columns — NaN survives a double
    * cast and would otherwise slip past the gate and poison the fit; the
    * flagged half routes to K8. */
  def splitMissing(df: DataFrame, measureCols: Seq[String]): (DataFrame, DataFrame) =
    (df.filter(!missing(measureCols)),
     deadLetter(df.filter(missing(measureCols)), FlagMissing, "missing measurement"))

  /** The P12 predicate: a column is missing if NULL, non-castable to
    * double (reference measurements arrive as strings — "N/A" must flag,
    * not vanish), or NaN. Each disjunct is non-null whenever the previous
    * ones are false, so the predicate is total — a nullable predicate
    * would drop rows from BOTH halves under three-valued logic. */
  def missing(measureCols: Seq[String]): Column = measureCols
    .map(c => col(c).isNull ||
      expr(s"try_cast(`$c` AS DOUBLE)").isNull || // ANSI-safe: plain cast throws on "N/A"
      isnan(expr(s"try_cast(`$c` AS DOUBLE)")))
    .reduce(_ || _)
}
