package graft.flows

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.analytics.RigidFit
import graft.incremental.Sinks
import graft.sources.Sources

/** The reference's ROT analytics lifecycle (SURVEY §3.2, reference
  * R/tlcd_nikonrot.R:32-123 `tlcd_nikonrot_flow`) as one composed Spark
  * flow — the end-to-end proof that the engine's modules reproduce the
  * reference's flagship pipeline without the Python→Rscript→DB hops:
  *
  *  1. clean: measurement columns (discovered by name regex, F5/P3) cast
  *     to double (F11), rows ordered by time (O2);
  *  2. P12: rows with missing measurements → dead letter, flag −1;
  *  3. P10: glasses of products without design values → flag −2;
  *  4. A5: products whose design grid is incomplete → flag −3;
  *  5. R3: melt wide coordinate columns to long sites, position-joined
  *     to the design grid (J2, broadcast — DV tables are tiny);
  *  6. R6: per-measurement rigid-body least-squares fit, one per
  *     (glassid, product, tstamp), solved in closed form (RigidFit;
  *     glasses whose fit fails flag −4);
  *  7. R7: apply the fitted transform to every site;
  *  8. K7: header (per-glass fit params) + detail (per-site corrected
  *     coordinates) sharing a deterministic surrogate key.
  *
  * Scale: the design gates are computed once per run ([[prepare]], one
  * job over config-sized DV tables). Each chunk scans its slice once into
  * a cached, flag-tagged relation that all three outputs read, melts it
  * in one pass, and shuffles once on the measurement key for the fit
  * (≤48 sites per glass — bounded groups, no skew). The per-product
  * driver loop of the reference (D6) disappears: products partition the
  * same shuffled pass, each product's sites fitting as their own group.
  */
object RotFlow {

  case class RotResult(header: DataFrame, detail: DataFrame, errors: DataFrame)

  /** One run's design gates and complete grids, see [[prepare]]. */
  private[flows] case class Design(xColRegex: String, yColRegex: String,
                                    products: Seq[Any], complete: Seq[Any], grid: DataFrame)

  private[flows] val KeyCols = Seq("glassid", "product", "tstamp")

  /** F5 + F11: discover the measurement columns and cast them to double.
    * try_cast mirrors R's as.numeric (junk → NA → flagged −1); an ANSI
    * cast would abort the whole batch on one malformed cell. */
  private[flows] def clean(raw: DataFrame, xColRegex: String, yColRegex: String) = {
    val xCols = Sources.columnsMatching(raw, xColRegex)
    val yCols = Sources.columnsMatching(raw, yColRegex)
    require(xCols.nonEmpty && xCols.size == yCols.size,
      s"coordinate column sets mismatched: ${xCols.size} x vs ${yCols.size} y")
    (raw.select((KeyCols.map(col) ++
      (xCols ++ yCols).map(c => expr(s"try_cast(`$c` AS DOUBLE)").as(c))): _*), xCols, yCols)
  }

  /** R3: melt wide x/y to long sites in one posexplode over (x_i, y_i),
    * keyed by the FULL measurement identity (glassid, product, tstamp). A
    * measurement with a null key part has no identity and melts to nothing. */
  private[flows] def melt(df: DataFrame, xCols: Seq[String], yCols: Seq[String]): DataFrame =
    df.filter(KeyCols.map(col(_).isNotNull).reduce(_ && _))
      .select(KeyCols.map(col) :+ posexplode(array(xCols.zip(yCols).map { case (x, y) =>
        struct(col(x).as("x"), col(y).as("y")) }: _*)).as(Seq("site0", "xy")): _*)
      .select(KeyCols.map(col) ++ Seq((col("site0") + 1).as("site_idx"), col("xy.x"), col("xy.y")): _*)

  /** The design gates for `raw`'s site count n — the products with design
    * values, and those whose grid is complete — plus the complete grids as
    * a local relation, so no chunk's plan rescans the design table. One
    * Spark aggregate, collected. A5: site_idx must cover exactly 1..n —
    * count and distinct-count alone would accept an offset (e.g. 0-based)
    * grid whose rows then silently drop at the position join. */
  private[flows] def prepare(spark: SparkSession, raw: DataFrame, designValues: DataFrame,
                             xColRegex: String = "^plfn_.*_x$", yColRegex: String = "^plfn_.*_y$"): Design = {
    val n = clean(raw, xColRegex, yColRegex)._2.size
    val dv = designValues.select("product", "site_idx", "dx", "dy")
    val gates = dv.filter(col("product").isNotNull).groupBy("product")
      .agg((count(lit(1)) === n && countDistinct(col("site_idx")) === n &&
            min(col("site_idx")) === 1 && max(col("site_idx")) === n).as("complete"),
           collect_list(struct("site_idx", "dx", "dy")).as("grid"))
      .collect().toSeq
    val complete = gates.filter(_.getAs[Any]("complete") == true)
    val grid = complete.flatMap(g => g.getSeq[Row](2).map(s => Row(g.get(0) +: s.toSeq: _*)))
    Design(xColRegex, yColRegex, gates.map(_.get(0)), complete.map(_.get(0)),
      spark.createDataFrame(grid.asJava, dv.schema))
  }

  /** @param raw      wide per-tool frame: (glassid, product, tstamp) +
    *                 coordinate columns matching xColRegex/yColRegex,
    *                 one row per glass, site order = column order
    * @param designValues long design grid: (product, site_idx, dx, dy)
    */
  def run(spark: SparkSession, raw: DataFrame, designValues: DataFrame,
          xColRegex: String = "^plfn_.*_x$",
          yColRegex: String = "^plfn_.*_y$"): RotResult =
    run(raw, prepare(spark, raw, designValues, xColRegex, yColRegex))

  /** The flow over one slice of the raw table `design` was prepared for. */
  private[flows] def run(raw: DataFrame, design: Design): RotResult = {
    import raw.sparkSession.implicits._
    val (clean, xCols, yCols) = RotFlow.clean(raw, design.xColRegex, design.yColRegex)

    // 1.–4. tag each measurement once — −1 missing (P12/K8), −2 no design
    // values (P10), −3 incomplete grid (A5), 1 ok — into a cache all three
    // outputs read. No branch is null (it would fall through to the next).
    val tagged = graft.Caches.track(clean.withColumn("flag",
      when(Sinks.missing(xCols ++ yCols), Sinks.FlagMissing)
        .when(col("product").isNull || !col("product").isin(design.products: _*), Sinks.FlagNoDesign)
        .when(!col("product").isin(design.complete: _*), Sinks.FlagBadGrid)
        .otherwise(Sinks.FlagOk)))
    val fitInput = tagged.filter(col("flag") === Sinks.FlagOk)

    // 5. melt (R3) and join the design grid (J2). 6. per-measurement
    // rigid-body fit (R6) — the typed key is xxhash64 over the full
    // (glassid, product, tstamp) identity, so each product fits on its
    // own as in the reference's per-product loop (D6); 32-bit hashing
    // would collide with ~50% odds at ~77k keys (birthday bound) and
    // silently merge two fits. rot_id stays keyed on (glassid, tstamp).
    // The CHECKED fit returns failures as rows: a degenerate glass
    // (identical design points, non-finite cell) routes to flag −4
    // (reference R/tlcd_nikonrot.R:263-272) instead of poisoning the
    // header with garbage params or aborting the batch.
    val glass = xxhash64(KeyCols.map(col): _*).as("glass")
    val typed = melt(fitInput, xCols, yCols)
      .join(broadcast(design.grid), Seq("product", "site_idx")).select(col("*"), glass)
    val attempts = graft.Caches.track(RigidFit.fitChecked( // the fit runs once
        typed.select("glass", "x", "y", "dx", "dy").as[RigidFit.Site]).toDF()
      .join(fitInput.select(glass +: KeyCols.map(col): _*).distinct(), "glass"))
    val fits = attempts.filter(col("ok"))

    // 7. apply the transform (R7): x' = x + sx − dy·tan(θ·1e-6)
    val detailLong = typed.join(fits.select("glass", "shiftX", "shiftY", "thetaUrad"), "glass")
      .withColumn("t", tan(col("thetaUrad") * 1e-6))
      .withColumn("x_rs", col("x") + col("shiftX") - col("dy") * col("t"))
      .withColumn("y_rs", col("y") + col("shiftY") + col("dx") * col("t"))
      .select("glassid", "product", "tstamp", "site_idx", "x_rs", "y_rs")

    // 8. header/detail with shared deterministic key (K7)
    val header = fits.select(col("glassid"), col("product"), col("tstamp"),
      col("shiftX").as("shift_x"), col("shiftY").as("shift_y"), col("thetaUrad").as("theta_urad"),
      col("nSites").as("n_sites"))
    val (h, d) = Sinks.headerDetail(header, detailLong, Seq("glassid", "tstamp"))

    val errors = tagged.filter(col("flag") =!= Sinks.FlagOk)
      .select(col("glassid"), col("product"), col("flag"),
        when(col("flag") === Sinks.FlagMissing, "missing measurement")
          .when(col("flag") === Sinks.FlagNoDesign, "no design values")
          .otherwise("bad design grid").as("description"))
      .unionByName(attempts.filter(!col("ok")).select(col("glassid"), col("product"),
        lit(Sinks.FlagFitError).as("flag"), concat(lit("fit error: "), col("error")).as("description")))
    RotResult(h, d, errors)
  }
}
