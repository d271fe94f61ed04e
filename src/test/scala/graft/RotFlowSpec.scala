package graft

import graft.flows.RotFlow
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers._

/** End-to-end ROT flow: a synthetic fab batch with known shift/rotation
  * per glass, plus every error class, through the whole pipeline. */
class RotFlowSpec extends SparkTestBase {
  import spark.implicits._

  private val nSites = 8 // 2 columns of 4 sites in the synthetic grid

  // design grid for products A (complete), C (incomplete — site 8
  // missing), and E (degenerate — all design points identical, so the
  // rotation is unidentifiable and the fit must flag −4)
  private def designValues = {
    val a = (1 to nSites).map { i =>
      ("A", i, ((i - 1) / 4) * 100.0, ((i - 1) % 4) * 50.0)
    }
    val c = (1 to nSites - 1).map { i =>
      ("C", i, ((i - 1) / 4) * 100.0, ((i - 1) % 4) * 50.0)
    }
    val e = (1 to nSites).map { i => ("E", i, 0.0, 0.0) }
    (a ++ c ++ e).toDF("product", "site_idx", "dx", "dy")
  }

  /** one glass row: measured diffs consistent with (sx, sy, θµrad) + tiny noise */
  private def glassRow(gid: String, product: String, sx: Double, sy: Double, theta: Double,
                       na: Boolean = false): (String, String, String, Seq[Double], Seq[Double]) = {
    val t = math.tan(theta * 1e-6)
    val xs = (1 to nSites).map { i =>
      val dy = ((i - 1) % 4) * 50.0
      if (na && i == 3) Double.NaN else -sx + dy * t
    }
    val ys = (1 to nSites).map { i =>
      val dx = ((i - 1) / 4) * 100.0
      -sy - dx * t
    }
    (gid, product, "2024-01-01 00:00:00", xs, ys)
  }

  private def rawFrame(rows: Seq[(String, String, String, Seq[Double], Seq[Double])]) = {
    val xNames = (1 to nSites).map(i => s"plfn_al${i}_x")
    val yNames = (1 to nSites).map(i => s"plfn_al${i}_y")
    rows.map { case (g, p, ts, xs, ys) => (g, p, ts, xs, ys) }
      .toDF("glassid", "product", "tstamp", "xs", "ys")
      .select(Seq(col("glassid"), col("product"), col("tstamp")) ++
        xNames.zipWithIndex.map { case (n, i) =>
          when(expr(s"isnan(xs[$i])"), lit(null)).otherwise(col("xs").getItem(i)).as(n) } ++
        yNames.zipWithIndex.map { case (n, i) => col("ys").getItem(i).as(n) }: _*)
  }

  test("RotRunner walks the watermark interval in chunks and trails the upstream") {
    import graft.flows.RotRunner
    import graft.incremental.{Watermark, Watermarks}
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    def tmp() = java.nio.file.Files.createTempDirectory("graft_rot").toString + "/t"
    // two glasses on different days inside the watermark window, one beyond the upstream
    val raw = rawFrame(Seq(
      glassRow("g1", "A", 0.5, -0.3, 120.0),
      glassRow("g2", "A", -1.2, 0.8, -60.0).copy(_3 = "2024-01-02 06:00:00"),
      glassRow("g9", "A", 0.1, 0.1, 5.0).copy(_3 = "2024-01-05 00:00:00")))
    val wm = new Watermarks(spark, tmp())
    wm.init(Seq(
      Watermark("ROT_Transform", "t01", ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00")),
      Watermark("EDC_Import", "t01", ts("2024-01-03 00:00:00"), ts("2024-01-03 00:00:00"))))
    val out = RotRunner.RotOutputs(tmp(), tmp(), tmp())
    val n = RotRunner.run(spark, raw, designValues, wm, "t01", "ROT_Transform", "EDC_Import", out)
    assert(n == 2) // two day chunks between the ROT and EDC watermarks
    val glasses = spark.read.parquet(out.headerPath).select("glassid")
      .collect().map(_.getString(0)).toSet
    assert(glasses == Set("g1", "g2"), "g9 is beyond the upstream watermark")
    assert(wm.require("ROT_Transform", "t01").lastEndTime == ts("2024-01-03 00:00:00"))
    // caught up → no-op
    assert(RotRunner.run(spark, raw, designValues, wm, "t01", "ROT_Transform", "EDC_Import", out) == 0)
    // D5 replay: reset the watermark (simulates crash-before-advance) and
    // re-run — chunk partitions are overwritten, not appended
    val before = spark.read.parquet(out.headerPath).count()
    wm.advance("ROT_Transform", "t01", ts("2024-01-01 00:00:00"))
    RotRunner.run(spark, raw, designValues, wm, "t01", "ROT_Transform", "EDC_Import", out)
    assert(spark.read.parquet(out.headerPath).count() == before, "replay duplicated headers")
  }

  test("AVM twin trails the ROT watermark; both pipelines advance independently") {
    import graft.flows.{EtlMain, RotRunner}
    import graft.incremental.{Watermark, Watermarks}
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    def tmp() = java.nio.file.Files.createTempDirectory("graft_avm").toString + "/t"
    val raw = rawFrame(Seq(
      glassRow("g1", "A", 0.5, -0.3, 120.0),
      glassRow("g2", "A", -1.2, 0.8, -60.0).copy(_3 = "2024-01-02 06:00:00"),
      glassRow("g9", "A", 0.1, 0.1, 5.0).copy(_3 = "2024-01-04 12:00:00")))
    val wm = new Watermarks(spark, tmp())
    // one shared lastendtime table, three pipeline rows (nikon_ETL.py:549-563)
    wm.init(Seq(
      Watermark("EDC_Import",    "t01", ts("2024-01-03 00:00:00"), ts("2024-01-03 00:00:00")),
      Watermark("ROT_Transform", "t01", ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00")),
      Watermark("AVM",           "t01", ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"),
        virtualRecipe = Some("TLCD_Nikon_VM_Fcn"))))
    val rotOut = RotRunner.RotOutputs(tmp(), tmp(), tmp())
    val avmOut = RotRunner.RotOutputs(tmp(), tmp(), tmp())

    // AVM may not run ahead of ROT: before ROT has processed anything,
    // the AVM interval [Jan-1, Jan-1) is empty
    assert(EtlMain.avm(spark, raw, wm, "t01", "AVM", "ROT_Transform", avmOut) == 0)

    // ROT catches up to replication (2 day-chunks), AVM then trails ROT
    assert(EtlMain.rot(spark, raw, designValues, wm, "t01", "ROT_Transform", "EDC_Import", rotOut) == 2)
    assert(EtlMain.avm(spark, raw, wm, "t01", "AVM", "ROT_Transform", avmOut) == 2)
    assert(wm.require("ROT_Transform", "t01").lastEndTime == ts("2024-01-03 00:00:00"))
    assert(wm.require("AVM", "t01").lastEndTime == ts("2024-01-03 00:00:00"))
    val avmGlasses = spark.read.parquet(avmOut.headerPath).select("glassid")
      .collect().map(_.getString(0)).toSet
    assert(avmGlasses == Set("g1", "g2"), "g9 is beyond the ROT watermark")

    // replication advances past g9 but ROT has not rerun: AVM must still
    // hold at ROT's watermark, and the two rows stay independent
    wm.advance("EDC_Import", "t01", ts("2024-01-05 00:00:00"))
    assert(EtlMain.avm(spark, raw, wm, "t01", "AVM", "ROT_Transform", avmOut) == 0)
    assert(EtlMain.rot(spark, raw, designValues, wm, "t01", "ROT_Transform", "EDC_Import", rotOut) == 2)
    assert(EtlMain.avm(spark, raw, wm, "t01", "AVM", "ROT_Transform", avmOut) == 2)
    assert(wm.require("AVM", "t01").lastEndTime == ts("2024-01-05 00:00:00"))
    assert(spark.read.parquet(avmOut.headerPath).select("glassid")
      .collect().map(_.getString(0)).toSet == Set("g1", "g2", "g9"))
    // advancing never clobbers flow metadata (dbs/nikon.py:169-186
    // updates only the time columns)
    assert(wm.require("AVM", "t01").virtualRecipe.contains("TLCD_Nikon_VM_Fcn"))

    // the VM model itself: mean site offset per axis. glassRow builds
    // x_i = −sx + dy_i·tan(θµrad·1e-6), so vm_x = −sx + mean(dy)·tanθ
    val h = spark.read.parquet(avmOut.headerPath).filter(col("glassid") === "g1").collect().head
    val t = math.tan(120.0 * 1e-6)
    h.getDouble(h.fieldIndex("vm_x")) shouldBe (-0.5 + 75.0 * t) +- 1e-9
    h.getDouble(h.fieldIndex("vm_y")) shouldBe (0.3 - 50.0 * t) +- 1e-9
    assert(h.getLong(h.fieldIndex("n_sites")) == nSites)
    // residuals per glass must sum to ~0 against the mean model
    val res = spark.read.parquet(avmOut.detailPath).filter(col("glassid") === "g1")
      .agg(sum("x_res"), sum("y_res")).collect().head
    res.getDouble(0) shouldBe 0.0 +- 1e-9
    res.getDouble(1) shouldBe 0.0 +- 1e-9
  }

  test("a disabled watermark row fails check_flow for its pipeline only") {
    import graft.flows.EtlMain
    import graft.flows.RotRunner
    import graft.incremental.{Watermark, Watermarks}
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    def tmp() = java.nio.file.Files.createTempDirectory("graft_avm_dis").toString + "/t"
    val wm = new Watermarks(spark, tmp())
    wm.init(Seq(
      Watermark("ROT_Transform", "t01", ts("2024-01-02 00:00:00"), ts("2024-01-02 00:00:00")),
      Watermark("AVM", "t01", ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:00"),
        enabled = false)))
    val out = RotRunner.RotOutputs(tmp(), tmp(), tmp())
    val raw = rawFrame(Seq(glassRow("g1", "A", 0.5, -0.3, 120.0)))
    // WHERE enabled='TRUE' (dbs/nikon.py:28): the disabled AVM row is
    // invisible, so its check_flow aborts…
    intercept[IllegalStateException] {
      EtlMain.avm(spark, raw, wm, "t01", "AVM", "ROT_Transform", out)
    }
    // …and the disabled row is still on disk, untouched, for re-enabling
    assert(wm.all().exists(w => w.apname == "AVM" && !w.enabled))
  }

  test("a glass measured twice in one chunk yields two independent fits") {
    val rows = Seq(
      glassRow("g1", "A", 0.5, -0.3, 120.0),
      glassRow("g1", "A", -1.2, 0.8, -60.0).copy(_3 = "2024-01-01 08:00:00"))
    val res = RotFlow.run(spark, rawFrame(rows), designValues)
    val fits = res.header.collect()
      .map(r => r.getString(r.fieldIndex("tstamp")) -> r.getDouble(r.fieldIndex("shift_x"))).toMap
    assert(fits.size == 2, "two measurements must fit separately")
    fits("2024-01-01 00:00:00") shouldBe 0.5 +- 1e-6
    fits("2024-01-01 08:00:00") shouldBe -1.2 +- 1e-6
    assert(res.detail.count() == 2 * nSites, "melt must not cross-join the two measurements")
    // header/detail keys still pair correctly per measurement
    val hKeys = res.header.select("tstamp", "rot_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    res.detail.select("tstamp", "rot_id").collect().foreach { r =>
      assert(hKeys(r.getString(0)) == r.getLong(1))
    }
  }

  test("an offset (0-based) design grid is flagged -3, not silently truncated") {
    val dv = designValues.unionByName(
      (0 until nSites).map { i =>
        ("D", i, ((i % nSites) / 4) * 100.0, (i % 4) * 50.0)
      }.toDF("product", "site_idx", "dx", "dy"))
    val res = RotFlow.run(spark, rawFrame(Seq(glassRow("g8", "D", 0.1, 0.1, 5.0))), dv)
    assert(res.header.isEmpty)
    val err = res.errors.collect()
    assert(err.length == 1 && err.head.getInt(err.head.fieldIndex("flag")) == -3)
  }

  test("full flow: fits recover truth, errors route by flag, keys stay consistent") {
    val rows = Seq(
      glassRow("g1", "A", 0.5, -0.3, 120.0),
      glassRow("g2", "A", -1.2, 0.8, -60.0),
      glassRow("g3", "B", 0.1, 0.1, 10.0),        // product B: no design values → −2
      glassRow("g4", "C", 0.2, 0.2, 20.0),        // product C: incomplete grid → −3
      glassRow("g5", "A", 0.0, 0.0, 0.0, na = true), // NA measurement → −1
      glassRow("g6", "E", 0.3, 0.3, 0.0))         // product E: degenerate design → −4
    val res = RotFlow.run(spark, rawFrame(rows), designValues)

    // errors: one per class, right flags
    val errs = res.errors.select("glassid", "flag").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(errs == Map("g5" -> -1, "g3" -> -2, "g4" -> -3, "g6" -> -4))
    // the −4 row carries the reason and the failed glass reaches neither sink
    val fitErrDesc = res.errors.filter(col("flag") === -4)
      .select("description").as[String].head()
    assert(fitErrDesc.contains("fit error"))
    assert(res.detail.filter(col("glassid") === "g6").isEmpty)

    // fits: g1/g2 recover the planted parameters
    val fits = res.header.collect()
      .map(r => r.getString(r.fieldIndex("glassid")) ->
        (r.getDouble(r.fieldIndex("shift_x")), r.getDouble(r.fieldIndex("shift_y")),
         r.getDouble(r.fieldIndex("theta_urad")))).toMap
    assert(fits.keySet == Set("g1", "g2"))
    fits("g1")._1 shouldBe 0.5 +- 1e-6
    fits("g1")._2 shouldBe -0.3 +- 1e-6
    fits("g1")._3 shouldBe 120.0 +- 0.05
    fits("g2")._1 shouldBe -1.2 +- 1e-6
    fits("g2")._3 shouldBe -60.0 +- 0.05

    // residuals after transform ≈ 0 (the fit corrects the planted shift/rot)
    val maxResid = res.detail
      .agg(max(greatest(abs(col("x_rs")), abs(col("y_rs"))))).as[Double].head()
    assert(maxResid < 1e-4, s"residual after correction: $maxResid")

    // K7: every detail row carries its header's rot_id
    val hKeys = res.header.select("glassid", "rot_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    res.detail.select("glassid", "rot_id").collect().foreach { r =>
      assert(hKeys(r.getString(0)) == r.getLong(1))
    }
    assert(res.detail.count() == 2 * nSites)
  }

  // Edge fixtures: keys and products the happy path never sees. The
  // outputs below are pinned literally so a rewrite of the gates or the
  // melt cannot drift under three-valued logic unnoticed.
  private val T0 = "2024-01-01 00:00:00"
  private def edgeDesign = {
    val grid = (1 to nSites).map(i => (i, ((i - 1) / 4) * 100.0, ((i - 1) % 4) * 50.0))
    def rows(product: String, sites: Seq[(Int, Double, Double)]) =
      sites.map { case (i, dx, dy) => (product, Option(i), dx, dy) }
    val nullSite = (p: String) => Seq((p, Option.empty[Int], 0.0, 0.0))
    designValues.unionByName((
      rows("F", grid) ++ nullSite("F") ++      // complete grid + a null site
      rows("H", grid.init) ++ nullSite("H") ++ // 1..7 + a null site
      rows(null, grid)                          // a grid under a null product
    ).toDF("product", "site_idx", "dx", "dy"))
  }
  private def edgeRaw = rawFrame(Seq(
    glassRow("ok1", "A", 0.5, -0.3, 120.0),
    glassRow("np", null, 0.1, 0.1, 5.0),                 // null product
    glassRow("npna", null, 0.1, 0.1, 5.0, na = true),    // null product, missing cell
    glassRow("f1", "F", 0.2, 0.2, 20.0),
    glassRow("h1", "H", 0.2, 0.2, 20.0),
    glassRow("dup", "A", -1.2, 0.8, -60.0),
    glassRow("dup", "A", -1.2, 0.8, -60.0),              // duplicated measurement row
    glassRow(null, "A", 0.2, 0.1, 30.0),                 // null glassid
    glassRow(null, "B", 0.2, 0.1, 30.0, na = true),      // null glassid, missing cell
    glassRow("nt", "A", 0.3, 0.2, 40.0).copy(_3 = null))) // null tstamp

  private def errorRows(df: org.apache.spark.sql.DataFrame) =
    df.select("glassid", "product", "flag", "description").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
  private def detailShape(df: org.apache.spark.sql.DataFrame) =
    df.groupBy("glassid", "tstamp", "rot_id").agg(count(lit(1)), countDistinct("site_idx")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> (r.getLong(3), r.getLong(4))).toMap

  test("edge fixtures: ROT header, detail and error rows are pinned") {
    val res = RotFlow.run(spark, edgeRaw, edgeDesign)
    val header = res.header.collect().map(r => (r.getString(r.fieldIndex("glassid")),
      r.getString(r.fieldIndex("product")), r.getString(r.fieldIndex("tstamp")),
      r.getInt(r.fieldIndex("n_sites")), r.getLong(r.fieldIndex("rot_id"))) ->
      (r.getDouble(r.fieldIndex("shift_x")), r.getDouble(r.fieldIndex("shift_y")),
       r.getDouble(r.fieldIndex("theta_urad")))).toMap
    // null glassid / null tstamp measurements reach no sink; the two
    // copies of "dup" fit as one measurement, each site once per copy
    assert(header.keySet == Set(
      ("ok1", "A", T0, 8, -2233093054476105771L),
      ("dup", "A", T0, 16, -7192641336470413551L)))
    val planted = Map("ok1" -> (0.5, -0.3, 120.0), "dup" -> (-1.2, 0.8, -60.0))
    header.foreach { case ((g, _, _, _, _), (sx, sy, th)) =>
      sx shouldBe planted(g)._1 +- 1e-6
      sy shouldBe planted(g)._2 +- 1e-6
      th shouldBe planted(g)._3 +- 0.05
    }
    assert(detailShape(res.detail) == Map(
      ("ok1", T0, -2233093054476105771L) -> (8L, 8L),
      ("dup", T0, -7192641336470413551L) -> (16L, 8L)))
    val maxResid = res.detail
      .agg(max(greatest(abs(col("x_rs")), abs(col("y_rs"))))).as[Double].head()
    assert(maxResid < 1e-4, s"residual after correction: $maxResid")
    // a null product never matches a design grid, not even the one under
    // a null design product; a null site_idx spoils a grid (F, H)
    assert(errorRows(res.errors) == Set(
      (null, "B", -1, "missing measurement"),
      ("npna", null, -1, "missing measurement"),
      ("np", null, -2, "no design values"),
      ("f1", "F", -3, "bad design grid"),
      ("h1", "H", -3, "bad design grid")))
  }

  test("edge fixtures: AVM header, detail and error rows are pinned") {
    val res = graft.flows.AvmFlow.run(edgeRaw)
    val header = res.header.collect().map(r => (r.getString(r.fieldIndex("glassid")),
      r.getString(r.fieldIndex("product")), r.getString(r.fieldIndex("tstamp")),
      r.getLong(r.fieldIndex("n_sites")), r.getLong(r.fieldIndex("rot_id"))) ->
      (r.getDouble(r.fieldIndex("vm_x")), r.getDouble(r.fieldIndex("vm_y")))).toMap
    // any null key (glassid, product or tstamp) drops the measurement;
    // the two copies of "dup" count each site once per copy
    assert(header.keySet == Set(
      ("ok1", "A", T0, 8L, -2233093054476105771L),
      ("dup", "A", T0, 16L, -7192641336470413551L),
      ("f1", "F", T0, 8L, 1749641923519290815L),
      ("h1", "H", T0, 8L, -8344183567670776549L)))
    val vm = header.map { case (k, v) => k._1 -> v }
    val t = (th: Double) => math.tan(th * 1e-6)
    Seq("ok1" -> (0.5, -0.3, 120.0), "dup" -> (-1.2, 0.8, -60.0), "f1" -> (0.2, 0.2, 20.0),
        "h1" -> (0.2, 0.2, 20.0)).foreach { case (g, (sx, sy, th)) =>
      vm(g)._1 shouldBe (-sx + 75.0 * t(th)) +- 1e-9
      vm(g)._2 shouldBe (-sy - 50.0 * t(th)) +- 1e-9
    }
    assert(detailShape(res.detail) == Map(
      ("ok1", T0, -2233093054476105771L) -> (8L, 8L),
      ("dup", T0, -7192641336470413551L) -> (16L, 8L),
      ("f1", T0, 1749641923519290815L) -> (8L, 8L),
      ("h1", T0, -8344183567670776549L) -> (8L, 8L)))
    assert(errorRows(res.errors) == Set(
      (null, "B", -1, "missing measurement"),
      ("npna", null, -1, "missing measurement")))
  }

  test("plan fence: one slice scan per chunk, no design-table rescan, one-pass melts") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.PosExplode
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.types.{ArrayType, StructType}
    val dir = java.nio.file.Files.createTempDirectory("graft_rot_plan").toString
    designValues.write.parquet(s"$dir/dv")
    rawFrame(Seq(glassRow("g1", "A", 0.5, -0.3, 120.0))).write.parquet(s"$dir/raw")
    val raw = spark.read.parquet(s"$dir/raw")
    def scanned(p: LogicalPlan): Seq[String] = p.collect { case l: LogicalRelation => l.relation }
      .collect { case h: HadoopFsRelation => h.location.rootPaths.map(_.getName) }.flatten
    def outputs(r: RotFlow.RotResult) = Seq(r.header, r.detail, r.errors)
      .map(_.queryExecution.optimizedPlan)

    // the flow as it runs: every output reads the chunk's cached tagged
    // slice, not the raw source, and none reads the design table
    try outputs(RotFlow.run(spark, raw, spark.read.parquet(s"$dir/dv"))).foreach { p =>
      assert(scanned(p).isEmpty, s"an output rescans a source:\n$p")
    } finally Caches.release()

    // the full trees (no cache substitution): each melt is ONE posexplode
    // over (x, y) structs, and no join pairs two melts on site_idx
    val (rot, avm) = Caches.disabled(
      (RotFlow.run(spark, raw, spark.read.parquet(s"$dir/dv")), graft.flows.AvmFlow.run(raw)))
    def generates(p: LogicalPlan) = p.collect { case g: Generate => g }
    (outputs(rot) ++ outputs(avm)).foreach { p =>
      assert(!scanned(p).contains("dv"), s"a prepared flow rescans the design table:\n$p")
      generates(p).foreach { g =>
        assert(g.generator.isInstanceOf[PosExplode] &&
          (g.generator.children.head.dataType match {
            case ArrayType(st: StructType, _) => st.fieldNames.toSet == Set("x", "y")
            case _ => false
          }), s"melt is not one pass over (x, y) pairs:\n$g")
      }
      val meltJoins = p.collect { case j: Join
        if generates(j.left).nonEmpty && generates(j.right).nonEmpty &&
           j.condition.exists(_.references.exists(_.name == "site_idx")) => j }
      assert(meltJoins.isEmpty, s"two melts joined on site_idx:\n$p")
    }
  }
}
