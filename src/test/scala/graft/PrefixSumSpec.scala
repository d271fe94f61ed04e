package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Both PrefixSum entry points against ONE plain window per partition,
  * ordered (bucket, order), on degenerate inputs — with and without a
  * partition key, and with a rank cap. */
class PrefixSumSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("p", StringType),
    StructField("b", IntegerType), StructField("o", LongType),
    StructField("t", LongType), StructField("m", LongType)))

  /** Rows of (p, b, o, t, m); `id` is the row's index. */
  private def rel(rows: (String, Int, Long, Long, java.lang.Long)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.zipWithIndex.map { case ((p, b, o, t, m), i) => Row(i.toLong, p, b, o, t, m) }, 2),
      schema)

  private val order = Seq(col("o"), col("t"))

  private def check(df: DataFrame): Unit = Seq(Seq("p"), Nil).foreach { partition =>
    val plain = Window.partitionBy(partition.map(col): _*).orderBy(col("b") +: order: _*)
    val before = plain.rowsBetween(Window.unboundedPreceding, -1)
    val expect = df.select(col("id"), coalesce(sum(col("m")).over(before), lit(0L)),
        coalesce(count(lit(1)).over(before), lit(0L)), row_number().over(plain).cast("long"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val got = PrefixSum.running(df, partition, Seq("b"), order,
        col("m") -> "cum", lit(1L) -> "cnt")
      .join(PrefixSum.positions(df, partition, Seq("b"), order, "pos").select("id", "pos"), "id")
      .select("id", "cum", "cnt", "pos")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expect, s"partition $partition")
    // a cap drops whole buckets past it, never a row inside it
    val cap = 2L
    val capped = PrefixSum.positions(df, partition, Seq("b"), order, "pos", cap = Some(cap))
      .filter(col("pos") <= cap).select("id", "pos")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped == expect.collect { case (id, (_, _, pos)) if pos <= cap => id -> pos },
      s"cap $cap, partition $partition")
  }

  test("empty input") {
    check(rel())
  }

  test("one row") {
    check(rel(("a", 3, 5L, 0L, 7L)))
  }

  test("every row in one bucket") {
    check(rel(("a", 4, 9L, 0L, 1L), ("a", 4, 2L, 0L, 2L), ("a", 4, 5L, 0L, 3L),
      ("a", 4, 0L, 0L, 4L), ("a", 4, 7L, 0L, 5L)))
  }

  test("one row per bucket: bucket order wins over the order key") {
    check(rel(("a", 0, 9L, 0L, 1L), ("a", 1, 7L, 0L, 2L), ("a", 2, 5L, 0L, 3L),
      ("a", 3, 3L, 0L, 4L), ("a", 4, 1L, 0L, 5L)))
  }

  test("several partitions, one with a null key") {
    check(rel(("a", 1, 1L, 0L, 10L), ("a", 0, 2L, 0L, 20L), ("a", 1, 0L, 0L, 30L),
      ("b", 2, 4L, 0L, 40L), ("b", 0, 3L, 0L, 50L),
      (null, 1, 6L, 0L, 60L), (null, 0, 5L, 0L, 70L), (null, 1, 2L, 0L, 80L)))
  }

  test("ties on the order key broken by the tiebreak column") {
    check(rel(("a", 0, 1L, 3L, 1L), ("a", 0, 1L, 1L, 2L), ("a", 0, 1L, 2L, 4L),
      ("a", 1, 1L, 0L, 8L), ("a", 1, 0L, 9L, 16L), ("b", 0, 1L, 5L, 32L), ("b", 0, 1L, 4L, 64L)))
  }

  test("null measure values add nothing") {
    check(rel(("a", 0, 0L, 0L, null), ("a", 0, 1L, 0L, 5L), ("a", 1, 0L, 0L, null),
      ("a", 1, 1L, 0L, null), ("a", 2, 0L, 0L, 7L), ("b", 0, 0L, 0L, null)))
  }
}
