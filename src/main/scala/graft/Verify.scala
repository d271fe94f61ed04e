package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check_oracle.py). */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Usage: Verify <sfDir> <outDir> [query...] — every catalog query
    * when no names are given. */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query...]")
    val spark = Harness.session()
    dump(spark, args(0), args(1), args.drop(2).toSeq)
    spark.stop()
  }

  /** Write each named query's result (all of them when `names` is empty)
    * to `outDir/<name>` as parquet, plus their oracle SQL as
    * `outDir/oracle_sql.json`. Unknown names fail before any query runs. */
  def dump(spark: SparkSession, sfDir: String, outDir: String, names: Seq[String]): Unit = {
    val queries = SparkEntry.queries
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    def chosen(name: String) = names.isEmpty || names.contains(name)
    new java.io.File(outDir).mkdirs()
    queries.foreach { case (name, fn) =>
      if (chosen(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        } finally Caches.release() // drop this query's tracked caches
    }
    def q(s: String): String = jsonEscape(s)
    val json = SparkEntry.oracleSql.filter { case (k, _) => chosen(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
