package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet sources over the shared testdata dir.
  *
  * Maps SURVEY.md §2.1 S1–S7: the reference opens lazy singleton DB
  * connections (reference dbs/db.py:40-47, dbs/db_pg.py:39-45) and
  * materializes cursors to rows (dbs/nikon.py:5-12). In Spark the scan IS
  * the source: a parquet (or JDBC) read with a self-describing schema.
  * Every query below works unchanged against `spark.read.format("jdbc")`
  * for a real Oracle/Postgres warehouse; parquet is the test substrate.
  *
  * Scale note: parquet scans here are the unit that must prune at 100 TB —
  * all time-windowed queries filter on a timestamp column so a
  * date-partitioned layout gets partition pruning, and every query projects
  * explicit columns so the scan's ReadSchema stays narrow.
  *
  * Schema memo: inferring a parquet schema runs a Spark job (a footer
  * read) on every `spark.read.parquet`, which a request-sized caller
  * such as `QueryApi` pays on every call. [[apply]] therefore infers
  * each table's schema once and reads with `spark.read.schema(memo)`.
  * The memo is keyed by the path and the session's parquet SQL conf
  * (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`: [[events]]
  * toggles `nanosAsLong`, which changes the inferred type), and an
  * entry holds only while the path's [[fingerprint]] (file names,
  * lengths, mtimes) is unchanged, so a table rewritten in place is
  * re-inferred; checking it costs one file-status call per read (a
  * listing, for a directory table). A cold first read still infers.
  * The memo holds the
  * `StructType`, never a DataFrame: every read builds a fresh relation,
  * so the file listing stays fresh and a self-join still gets new
  * exprIds.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val conf = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.sorted
    val schema = schemas((path, conf), fingerprint(spark, path))(spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** A source's file signature: the names, lengths and modification
    * times of the files at `path` (the file itself, or a directory's
    * entries), sorted and joined. File-system metadata only, no rows are
    * read. A table regenerated under the same path signs differently, so
    * anything keyed by it (artifact paths, the memos here) goes stale. */
  def fingerprint(s: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val stats =
      if (fs.getFileStatus(p).isDirectory) fs.listStatus(p).toSeq else Seq(fs.getFileStatus(p))
    stats.map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("|")
  }

  /** File metadata memoized per key while the source's fingerprint
    * holds; a new fingerprint replaces the key's entry, so the memo
    * stays one entry per key. The value is computed outside the map's
    * lock: it may run a Spark job, and two racing callers computing the
    * same value is harmless. */
  private final class FileMemo[K, V] {
    private val m = new java.util.concurrent.ConcurrentHashMap[K, (String, V)]()
    def apply(key: K, fp: String)(compute: => V): V = {
      val hit = m.get(key)
      if (hit != null && hit._1 == fp) hit._2
      else { val v = compute; m.put(key, (fp, v)); v }
    }
  }
  private val schemas = new FileMemo[(String, Seq[(String, String)]), StructType]

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def nation(s: SparkSession, d: String): DataFrame   = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = apply(s, d, "region")
  def part(s: SparkSession, d: String): DataFrame     = apply(s, d, "part")
  /** events.ts arrives in either of two physical encodings, depending on
    * the generator vintage — the read adapts to the FILE's schema, since a
    * library cannot dictate what an upstream writer produced:
    *  - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it, so
    *    it is read as a long and floor-truncated to microseconds (`div`,
    *    not `/`: ns-since-epoch exceeds 2^53 so double division would
    *    corrupt). DuckDB reads the same file with the same floor ns→µs
    *    (its TIMESTAMP is µs), so interval boundaries agree exactly by
    *    construction. The matching floor (`div`, never rounding) is pinned
    *    by IncrementalSpec "events truncation is floor to microseconds".
    *  - parquet TIMESTAMP(MICROS) (isAdjustedToUTC=false): reads natively
    *    as TIMESTAMP_NTZ; cast to the session type under the catalog's
    *    fixed UTC session zone — a lossless reinterpretation that lands on
    *    the identical µs value DuckDB's naive TIMESTAMP carries. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    }
  }

  /** Interval-pruned events scan. Because `ts` is DERIVED from the raw
    * nanosecond long, a filter on it cannot reach the parquet scan — so
    * this pushes a coarse (1 µs widened) predicate on the RAW column,
    * which parquet row-group statistics can prune against, and keeps the
    * exact microsecond filter as a residual on the derived column. At
    * 100 TB the row-group pruning is what bounds the scan; the residual
    * only re-checks surviving rows. */
  def eventsInterval(s: SparkSession, d: String,
                     lo: java.sql.Timestamp, hi: java.sql.Timestamp,
                     convention: graft.incremental.Intervals.Convention): DataFrame = {
    import org.apache.spark.sql.functions._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def ns(t: java.sql.Timestamp): Long = {
      val i = t.toInstant
      i.getEpochSecond * 1000000000L + i.getNano
    }
    // NTZ literal for the µs encoding: the instant's UTC wall clock, so the
    // pushed NTZ-vs-NTZ comparison means the same µs value the session-zone
    // (UTC) cast produces downstream.
    def ntz(t: java.sql.Timestamp): java.time.LocalDateTime =
      java.time.LocalDateTime.ofInstant(t.toInstant, java.time.ZoneOffset.UTC)
    val raw = apply(s, d, "events")
    val coarse = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS) as long
        raw.filter(col("ts") >= ns(lo) - 1000L && col("ts") <= ns(hi) + 1000L) // pushed
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => // TIMESTAMP(MICROS) → TIMESTAMP_NTZ: push on the raw column
        raw.filter(col("ts") >= lit(ntz(lo)) && col("ts") <= lit(ntz(hi))) // pushed
          .withColumn("ts", col("ts").cast("timestamp"))
    }
    coarse.filter(convention.contains(col("ts"), lo, hi)) // exact residual
  }
  /** Redistribute a scan whose split count is below the cluster's
    * parallelism — called by the CPU-heavy narrow builders (md5
    * shingling, n-gram explodes) right before their expensive map work,
    * NOT at every scan: cheap queries that shuffle immediately anyway
    * must not pay an extra exchange. Parquet cannot split below
    * row-group granularity, so a file written as one row group yields
    * ONE scan partition no matter what
    * `spark.sql.files.maxPartitionBytes` says — and the narrow CPU-heavy
    * stage downstream then runs single-threaded until its first shuffle.
    * The split-count probe is memoized per path while the path's
    * [[fingerprint]] holds (it is file metadata; a table regenerated in
    * place is probed again), and the guard keeps this a no-op in the
    * 100 TB case: a corpus with thousands of row groups already scans
    * wider than the core count and must NOT pay a gratuitous
    * full-corpus shuffle here. */
  private val scanParts = new FileMemo[String, Int]
  def fanOut(df: DataFrame, path: String): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val parts = scanParts(path, fingerprint(df.sparkSession, path))(df.rdd.getNumPartitions)
    if (parts < target) df.repartition(target) else df
  }

  /** The documents scan, redistributed for a CPU-heavy narrow consumer
    * (see [[fanOut]]). */
  def documentsWide(s: SparkSession, d: String): DataFrame =
    fanOut(apply(s, d, "documents"), s"$d/documents.parquet")

  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
