package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The source layer's memos: a table's schema and split count are
  * memoized per path only while its file fingerprint holds, and the
  * schema memo also keys on the session's parquet conf. */
class TablesSpec extends SparkTestBase {

  private def tmpDir(): String = Files.createTempDirectory("graft_tables").toString

  test("a table rewritten in place with a different schema is read with the new schema") {
    val dir = tmpDir()
    spark.range(5).selectExpr("id AS a").write.parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").columns.toSeq == Seq("a"))
    assert(Tables(spark, dir, "t").agg(sum("a")).head().getLong(0) == 10L)
    spark.range(5).selectExpr("id AS a", "CAST(id * 2 AS STRING) AS b")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val t = Tables(spark, dir, "t")
    assert(t.columns.toSeq == Seq("a", "b"), "the memo served the old schema")
    assert(t.orderBy("a").select("b").collect().map(_.getString(0)).toSeq ==
      Seq("0", "2", "4", "6", "8"))
  }

  test("fanOut re-probes the split count of a table regenerated at the same path") {
    val dir = tmpDir()
    val path = s"$dir/documents.parquet"
    val target = spark.sparkContext.defaultParallelism
    spark.range(0, 100, 1, 1).write.parquet(path)
    assert(Tables.fanOut(Tables(spark, dir, "documents"), path).rdd.getNumPartitions == target)
    spark.range(0, 100, 1, 4 * target).write.mode("overwrite").parquet(path)
    val wide = Tables(spark, dir, "documents")
    assert(wide.rdd.getNumPartitions >= target, "fixture no longer scans wide")
    assert(Tables.fanOut(wide, path) eq wide, "a stale split count forced a repartition")
  }

  test("events decodes both timestamp encodings after reads under the other nanosAsLong setting") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    // TIMESTAMP(NANOS) vintage, sub-µs components planted
    val nsDir = tmpDir()
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64).as(LogicalTypeAnnotation.timestampType(true, TimeUnit.NANOS)).named("ts")
      .named("spark_schema")
    val ns = (0 until 20).map(i => 1700000000000000000L + i * 1000000007L)
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new Path(s"$nsDir/events.parquet"), conf)).withConf(conf).withType(schema).build()
    try ns.zipWithIndex.foreach { case (t, i) =>
      val g = new SimpleGroup(schema); g.add("event_id", i.toLong); g.add("ts", t); w.write(g)
    } finally w.close()
    // TIMESTAMP(MICROS) vintage (isAdjustedToUTC = false)
    val usDir = tmpDir()
    spark.range(20).selectExpr("id AS event_id",
        "CAST(timestamp_micros(1700000000000000L + id * 1000003L) AS TIMESTAMP_NTZ) AS ts")
      .write.parquet(s"$usDir/events.parquet")
    def micros(d: String): Seq[Long] = Tables.events(spark, d).orderBy("event_id")
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
    def sameAsDirect(d: String): Unit = {
      def attempt[T](f: => T) = scala.util.Try(f).toOption
      assert(attempt(Tables(spark, d, "events").schema) ==
        attempt(spark.read.parquet(s"$d/events.parquet").schema),
        s"Tables read of $d disagrees with a direct read under $key=${spark.conf.get(key)}")
    }
    try {
      val wantNs = ns.map(_ / 1000)
      val wantUs = (0 until 20).map(i => 1700000000000000L + i * 1000003L)
      // events sets nanosAsLong = true, so the memo now holds both
      // schemas under true; a read under false must not be served them
      assert(micros(nsDir) == wantNs && micros(usDir) == wantUs)
      spark.conf.set(key, "false")
      sameAsDirect(nsDir); sameAsDirect(usDir)
      // and events still decodes both after the reads under false
      assert(micros(nsDir) == wantNs && micros(usDir) == wantUs)
      sameAsDirect(nsDir); sameAsDirect(usDir)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
