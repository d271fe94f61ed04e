package graft

import java.nio.file.Files
import java.sql.Timestamp
import graft.incremental._
import org.apache.spark.sql.functions._

/** The incremental module's stateful contracts: schema-reconciliation
  * truth table, interval chunking, idempotent slice replay, watermark
  * ordering, header/detail key determinism, dead-letter split. */
class IncrementalSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft_inc").toString + "/t"

  test("column_state truth table matches reference nikon_ETL.py:157-168") {
    import SchemaReconcile._
    // source == sink → proceed, nothing to drop
    assert(columnState(Seq("a", "b"), Seq("a", "b")) == ColumnState(true, Nil, Nil))
    // source has extras → proceed, drop extras
    assert(columnState(Seq("a", "b", "x"), Seq("a", "b")) == ColumnState(true, Seq("x"), Nil))
    // sink has extras → abort
    assert(columnState(Seq("a"), Seq("a", "z")) == ColumnState(false, Nil, Seq("z")))
    // both drift → abort
    assert(columnState(Seq("a", "x"), Seq("a", "z")) == ColumnState(false, Seq("x"), Seq("z")))
  }

  test("reconcile projects to sink order and aborts on sink-only columns") {
    val df = Seq((1, "u", 2.0)).toDF("b", "a", "x")
    assert(SchemaReconcile.reconcile(df, Seq("a", "b")).columns.toSeq == Seq("a", "b"))
    intercept[IllegalArgumentException] {
      SchemaReconcile.reconcile(df, Seq("a", "missing"))
    }
  }

  test("chunks: day steps, clamped tail, 30-chunk cap") {
    def ts(s: String) = Timestamp.valueOf(s)
    val c = Intervals.chunks(ts("2024-01-01 00:00:00"), ts("2024-01-03 12:00:00"))
    assert(c == Seq(
      (ts("2024-01-01 00:00:00"), ts("2024-01-02 00:00:00")),
      (ts("2024-01-02 00:00:00"), ts("2024-01-03 00:00:00")),
      (ts("2024-01-03 00:00:00"), ts("2024-01-03 12:00:00"))))
    val capped = Intervals.chunks(ts("2024-01-01 00:00:00"), ts("2026-01-01 00:00:00"))
    assert(capped.size == 30)
    assert(Intervals.chunks(ts("2024-01-02 00:00:00"), ts("2024-01-02 00:00:00")).isEmpty)
  }

  test("interval conventions: (s,e] vs [s,e) boundary rows") {
    def ts(s: String) = Timestamp.valueOf(s)
    val df = Seq(ts("2024-01-01 00:00:00"), ts("2024-01-01 12:00:00"), ts("2024-01-02 00:00:00"))
      .toDF("t")
    val s0 = ts("2024-01-01 00:00:00"); val e0 = ts("2024-01-02 00:00:00")
    assert(df.filter(Intervals.OpenClosed.contains(col("t"), s0, e0)).count() == 2) // excl start, incl end
    assert(df.filter(Intervals.ClosedOpen.contains(col("t"), s0, e0)).count() == 2) // incl start, excl end
  }

  test("replicate is idempotent and exactly-once on replayed intervals") {
    def ts(s: String) = Timestamp.valueOf(s)
    val sink = tmpDir(); val wmPath = tmpDir()
    val wm = new Watermarks(spark, wmPath)
    wm.init(Seq(Watermark("EDC_Import", "t01", ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"))))
    val source = Tables.events(spark, sfDir).select("event_id", "user_id", "ts")

    val now1 = ts("2024-01-03 00:00:00")
    val n1 = IncrementalRunner.replicate(spark, source, "ts", sink, wm, "EDC_Import", "t01", now1)
    assert(n1 == 2)
    val count1 = spark.read.parquet(sink).count()
    val sum1 = spark.read.parquet(sink).agg(sum("event_id")).as[Long].head()
    assert(count1 > 0)
    assert(wm.require("EDC_Import", "t01").lastEndTime == now1)

    // Replay the same window from scratch (simulates crash-before-advance):
    wm.advance("EDC_Import", "t01", ts("2024-01-01 00:00:00"))
    IncrementalRunner.replicate(spark, source, "ts", sink, wm, "EDC_Import", "t01", now1)
    assert(spark.read.parquet(sink).count() == count1, "replay duplicated rows")
    assert(spark.read.parquet(sink).agg(sum("event_id")).as[Long].head() == sum1)

    // Advance beyond: only the new interval is appended.
    val now2 = ts("2024-01-04 00:00:00")
    IncrementalRunner.replicate(spark, source, "ts", sink, wm, "EDC_Import", "t01", now2)
    val expect = source.filter(col("ts") > ts("2024-01-01 00:00:00") && col("ts") <= now2).count()
    assert(spark.read.parquet(sink).count() == expect)

    // Watermark caught up → no-op.
    assert(IncrementalRunner.replicate(spark, source, "ts", sink, wm, "EDC_Import", "t01", now2) == 0)
  }

  test("check_flow: missing watermark row aborts") {
    val wm = new Watermarks(spark, tmpDir())
    wm.init(Seq.empty)
    intercept[IllegalStateException] { wm.require("EDC_Import", "nope") }
  }

  test("watermark row carries virtual_recipe (reference tests/test_format.py:20-22 fixture)") {
    import java.sql.Timestamp
    val wm = new Watermarks(spark, tmpDir())
    // the reference's pinned fixture row: EDC_Import @ 2017-10-26
    // 23:31:27, virtual_recipe NULL — get_lastendtime must read the time
    // through it and check_flow must pass
    val fix = Watermark("EDC_Import", "t01",
      Timestamp.valueOf("2017-10-26 23:31:27"), Timestamp.valueOf("2017-10-26 23:31:27"))
    wm.init(Seq(fix))
    val got = wm.require("EDC_Import", "t01")
    assert(got.lastEndTime == Timestamp.valueOf("2017-10-26 23:31:27"))
    assert(got.virtualRecipe.isEmpty && got.enabled)
    // a non-null recipe round-trips through parquet and survives advance
    wm.init(Seq(fix.copy(virtualRecipe = Some("TLCD_Nikon_VM_Fcn"))))
    wm.advance("EDC_Import", "t01", Timestamp.valueOf("2017-10-27 00:00:00"))
    val after = wm.require("EDC_Import", "t01")
    assert(after.virtualRecipe.contains("TLCD_Nikon_VM_Fcn"))
    assert(after.lastEndTime == Timestamp.valueOf("2017-10-27 00:00:00"))
  }

  test("watermark table persisted BEFORE the metadata columns existed still decodes (upgrade path)") {
    import java.sql.Timestamp
    import spark.implicits._
    val path = tmpDir()
    // a pre-upgrade table: only the original four columns on disk
    Seq(("EDC_Import", "t01",
        Timestamp.valueOf("2017-10-26 23:31:27"), Timestamp.valueOf("2017-10-26 23:31:27")))
      .toDF("apname", "toolid", "lastEndTime", "updateTime")
      .repartition(1).write.mode("overwrite").parquet(path)
    val wm = new Watermarks(spark, path)
    val got = wm.require("EDC_Import", "t01") // decodes; check_flow passes
    assert(got.lastEndTime == Timestamp.valueOf("2017-10-26 23:31:27"))
    assert(got.virtualRecipe.isEmpty && got.enabled, "absent columns take documented defaults")
    // an advance rewrites the table in the CURRENT schema — upgrade complete
    wm.advance("EDC_Import", "t01", Timestamp.valueOf("2017-10-27 00:00:00"))
    assert(spark.read.parquet(path).columns.toSet.contains("enabled"))
    assert(wm.require("EDC_Import", "t01").lastEndTime == Timestamp.valueOf("2017-10-27 00:00:00"))
  }

  test("watermark init, requireAll and advance run no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    def ts(s: String) = Timestamp.valueOf(s)
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("watermarks", "watermark I/O")
      val wm = new Watermarks(spark, tmpDir())
      wm.init(Seq(Watermark("EDC_Import", "t01", ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00")),
        Watermark("ROT_Transform", "t01", ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"))))
      wm.requireAll("EDC_Import" -> "t01", "ROT_Transform" -> "t01")
      wm.advance("ROT_Transform", "t01", ts("2024-01-02 00:00:00"))
      assert(wm.require("ROT_Transform", "t01").lastEndTime == ts("2024-01-02 00:00:00"))
      // listener events arrive asynchronously, in order: once a later
      // job's start is seen, every earlier one has been counted
      sc.setJobGroup("barrier", "listener barrier")
      spark.range(1).count()
      val deadline = System.currentTimeMillis() + 30000
      while (!groups.contains("barrier") && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(groups.contains("barrier"), "listener never saw the barrier job")
      assert(!groups.contains("watermarks"), s"watermark I/O ran Spark jobs: $groups")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a watermark table written by advance reads back in Spark with the encoder schema") {
    import org.apache.spark.sql.Encoders
    def ts(s: String) = Timestamp.valueOf(s)
    val path = tmpDir()
    val wm = new Watermarks(spark, path)
    wm.init(Seq(
      Watermark("EDC_Import", "t01", ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00")),
      Watermark("AVM", "t01", ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"),
        virtualRecipe = Some("TLCD_Nikon_VM_Fcn"), enabled = false)))
    wm.advance("EDC_Import", "t01", ts("2024-01-02 03:04:05.123456"), ts("2024-01-02 03:04:06"))
    val expect = Set(
      Watermark("EDC_Import", "t01", ts("2024-01-02 03:04:05.123456"), ts("2024-01-02 03:04:06")),
      Watermark("AVM", "t01", ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"),
        virtualRecipe = Some("TLCD_Nikon_VM_Fcn"), enabled = false))
    assert(wm.all().toSet == expect)
    val viaSpark = spark.read.schema(Encoders.product[Watermark].schema).parquet(path)
      .as[Watermark].collect().toSet
    assert(viaSpark == expect)
  }

  test("Spark-written watermark tables with INT64 timestamps (MICROS, MILLIS) decode") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    def ts(s: String) = Timestamp.valueOf(s)
    val rows = Seq(
      Watermark("EDC_Import", "t01", ts("2024-01-01 00:00:00.123"), ts("2024-01-01 00:00:00")),
      Watermark("AVM", "t01", ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"),
        virtualRecipe = Some("TLCD_Nikon_VM_Fcn"), enabled = false))
    val conf = spark.sparkContext.hadoopConfiguration
    for (unit <- Seq("TIMESTAMP_MICROS", "TIMESTAMP_MILLIS")) {
      val path = tmpDir()
      spark.conf.set("spark.sql.parquet.outputTimestampType", unit)
      try rows.toDS().coalesce(1).write.parquet(path)
      finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
      val file = new Path(path).getFileSystem(conf).listStatus(new Path(path))
        .map(_.getPath).find(_.getName.startsWith("part-")).get
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      val schema = reader.getFooter.getFileMetaData.getSchema
      try assert(schema.getType(schema.getFieldIndex("lastEndTime"))
        .asPrimitiveType().getPrimitiveTypeName == PrimitiveTypeName.INT64, s"$unit fixture is not INT64")
      finally reader.close()
      assert(new Watermarks(spark, path).all().toSet == rows.toSet, unit)
    }
  }

  test("headerDetail: deterministic shared surrogate keys") {
    val header = Seq(("g1", 1.0), ("g2", 2.0), ("g3", 3.0)).toDF("glassid", "fit")
    val detail = Seq(("g1", "p1", 0.1), ("g1", "p2", 0.2), ("g3", "p1", 0.3))
      .toDF("glassid", "item", "v")
    val (h1, d1) = Sinks.headerDetail(header, detail, Seq("glassid"))
    val (h2, d2) = Sinks.headerDetail(header.orderBy(desc("glassid")), detail, Seq("glassid"))
    // same keys regardless of input order (replay-safe, unlike monotonically_increasing_id)
    assert(h1.select("glassid", "rot_id").collect().toSet ==
           h2.select("glassid", "rot_id").collect().toSet)
    val joined = d1.join(h1.withColumnRenamed("rot_id", "h_rot_id"), "glassid")
    assert(joined.filter(col("rot_id") =!= col("h_rot_id")).isEmpty)
    assert(d1.count() == 3)
  }

  test("splitMissing routes NULL and NaN rows to the dead letter with flag -1") {
    val df = Seq((1, Some(1.0), Some(2.0)), (2, None, Some(2.0)), (3, Some(3.0), None),
        (4, Some(Double.NaN), Some(2.0))) // NaN survives a double cast — must be caught too
      .toDF("id", "x", "y")
    val (clean, bad) = Sinks.splitMissing(df, Seq("x", "y"))
    assert(clean.select("id").as[Int].collect().toSet == Set(1))
    assert(bad.count() == 3)
    assert(bad.select("flag").distinct().as[Int].head() == Sinks.FlagMissing)

    // string measurements (the reference's arrival type): non-numeric
    // text must flag as missing, not vanish under three-valued logic
    val sdf = Seq((1, "1.5"), (2, "N/A"), (3, null)).toDF("id", "x")
    val (sClean, sBad) = Sinks.splitMissing(sdf, Seq("x"))
    assert(sClean.select("id").as[Int].collect().toSeq == Seq(1))
    assert(sBad.select("id").as[Int].collect().toSet == Set(2, 3))
    assert(sClean.count() + sBad.count() == sdf.count(), "split must partition the input")
  }
  test("events truncation is floor to microseconds (matches the DuckDB oracle's read)") {
    // Boundary equality with the oracle holds because BOTH engines read
    // the same µs value: for the TIMESTAMP(NANOS) vintage both engines
    // floor-truncate ns→µs on read (DuckDB's TIMESTAMP is µs); for the
    // TIMESTAMP(MICROS) vintage the read is the identity. Pin the Spark
    // side of BOTH branches of Tables.events: the ns branch must floor
    // (integer div), never round — a round-half-up would disagree with
    // the oracle on ~half the sub-µs rows — and the µs branch must not
    // shift the value (the UTC session-zone cast is a reinterpretation).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawDf = spark.read.parquet(s"$sfDir/events.parquet")
    val nsDir = rawDf.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => sfDir // ns vintage as-is
      case _ =>
        // µs vintage: first pin the identity read on the real testdata…
        val us = rawDf.select(col("event_id"),
          expr("unix_micros(cast(ts as timestamp))").as("us_raw"))
        val idMismatch = Tables.events(spark, sfDir)
          .select(col("event_id"), unix_micros(col("ts")).as("us"))
          .join(us, "event_id").filter(col("us") =!= col("us_raw")).count()
        assert(idMismatch == 0, s"$idMismatch events shifted by the µs-vintage read")
        // …then synthesize a ns-long fixture (sub-µs components planted)
        // so the floor branch stays exercised whatever the driver ships.
        val dir = java.nio.file.Files.createTempDirectory("graft_ns_events").toFile
        dir.deleteOnExit()
        spark.range(500).selectExpr(
            "id as event_id",
            // ns-since-epoch with a nonzero sub-µs residue on most rows
            "1700000000000000000L + id * 1000000007L as ts",
            "id % 7 as user_id", "'click' as event_type",
            "cast(id as double) / 10 as value", "'{}' as props")
          .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/events.parquet")
        dir.getAbsolutePath
    }
    val raw = spark.read.parquet(s"$nsDir/events.parquet")
      .select(col("event_id"), col("ts").as("ns"))
    assert(raw.filter(col("ns") % 1000 =!= 0).count() > 0,
      "fixture lost its sub-µs components — this test no longer exercises the boundary")
    val derived = Tables.events(spark, nsDir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
    val mismatch = derived.join(raw, "event_id")
      .filter(col("us") =!= expr("ns div 1000")).count()
    assert(mismatch == 0, s"$mismatch events not floor-truncated to microseconds")
  }
}
