package graft.flows

import scala.annotation.unused
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, MapType, StructField, StructType}
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
  *  5. R3: gather each measurement's wide coordinate columns into its
  *     sites, paired by position with the design grid (J2, a literal —
  *     DV tables are tiny);
  *  6. R6: per-measurement rigid-body least-squares fit, one per
  *     (glassid, product, tstamp), solved in closed form (RigidFit;
  *     glasses whose fit fails flag −4);
  *  7. R7: apply the fitted transform to every site;
  *  8. K7: header (per-glass fit params) + detail (per-site corrected
  *     coordinates) sharing a deterministic surrogate key.
  *
  * Scale: the design gates are computed once per run ([[prepare]], one
  * collect of the config-sized DV table, gated on the driver). Each
  * chunk scans its slice once into a cached, flag-tagged relation and
  * shuffles its ok rows once on the measurement identity into one cached
  * row per measurement, fitted where it lands (≤48 sites per glass —
  * bounded groups, no skew). Header, detail and errors are projections,
  * an explode and a union of those two caches: no join, no broadcast. The
  * per-product driver loop of the reference (D6) disappears: products
  * partition the same shuffled pass, each product's sites fitting as
  * their own measurement.
  */
object RotFlow {

  case class RotResult(header: DataFrame, detail: DataFrame, errors: DataFrame)

  /** One run's design gates, and its complete grids as one literal
    * `map(product → array<struct<dx, dy>>)` in site order, see [[prepare]]. */
  private[graft] case class Design(xColRegex: String, yColRegex: String,
                                    products: Seq[Any], complete: Seq[Any], grids: Column)

  private[flows] val KeyCols = Seq("glassid", "product", "tstamp")

  /** F5 + F11: discover the measurement columns and cast them to double.
    * try_cast mirrors R's as.numeric (junk → NA → flagged −1); an ANSI
    * cast would abort the whole batch on one malformed cell. A double
    * column passes through unaliased: each alias doubles the constraint
    * set Catalyst derives for a filter above it (2^sites copies of the
    * −1 predicate in an uncached plan). */
  private[flows] def clean(raw: DataFrame, xColRegex: String, yColRegex: String) = {
    val xCols = Sources.columnsMatching(raw, xColRegex)
    val yCols = Sources.columnsMatching(raw, yColRegex)
    require(xCols.nonEmpty && xCols.size == yCols.size,
      s"coordinate column sets mismatched: ${xCols.size} x vs ${yCols.size} y")
    (raw.select((KeyCols.map(col) ++ (xCols ++ yCols).map(c =>
      if (raw.schema(c).dataType == DoubleType) col(c)
      else expr(s"try_cast(`$c` AS DOUBLE)").as(c))): _*), xCols, yCols)
  }

  /** R3: one row per measurement identity (glassid, product, tstamp) with
    * its `sites`, an array<struct<x, y>> in site order — one shuffle on
    * the identity over the flag-ok rows of a tagged slice. A measurement
    * with a null key part has no identity and is dropped. Duplicated rows
    * of one identity contribute one copy each, concatenated in sorted
    * order (so site i of every copy is site i mod n, and a replay sums
    * the copies in the same order). */
  private[flows] def measurements(tagged: DataFrame, xCols: Seq[String], yCols: Seq[String]): DataFrame =
    tagged.filter(col("flag") === Sinks.FlagOk && KeyCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(KeyCols.map(col): _*)
      .agg(flatten(array_sort(collect_list(array(xCols.zip(yCols).map { case (x, y) =>
        struct(col(x).as("x"), col(y).as("y")) }: _*)))).as("sites"))

  /** R3's long form of [[measurements]]: one row per site with its
    * 1-based `site_idx` and coordinates `x`, `y` (copies repeat 1..n). */
  private[flows] def sitesOf(m: DataFrame, n: Int, keep: Column*): DataFrame =
    m.select(keep :+ posexplode(col("sites")).as(Seq("site0", "xy")): _*)
      .select(col("*"), (col("site0") % n + 1).as("site_idx"), col("xy.x"), col("xy.y"))

  /** The design gates for `raw`'s site count n — the products with design
    * values, and those whose grid is complete — plus the complete grids as
    * a literal, so no chunk's plan rescans or joins the design table. One
    * collect of the config-sized table; the gates are computed here. A5:
    * site_idx must cover exactly 1..n — count and distinct-count alone
    * would accept an offset (e.g. 0-based) grid — and every dx and dy
    * must be present, or the product has no grid to fit against. */
  private[graft] def prepare(raw: DataFrame, designValues: DataFrame,
                             xColRegex: String = "^plfn_.*_x$", yColRegex: String = "^plfn_.*_y$"): Design = {
    val n = clean(raw, xColRegex, yColRegex)._2.size
    val byProduct = designValues.select(col("product"), col("site_idx"),
        col("dx").cast("double"), col("dy").cast("double")).collect().toSeq
      .filter(!_.isNullAt(0)).groupBy(_.get(0)).toSeq
    val site = (r: Row) => r.getAs[Number](1).doubleValue
    val complete = byProduct.collect { case (p, rows) if rows.size == n &&
        rows.forall(r => (1 to 3).forall(!r.isNullAt(_))) && rows.map(site).sorted == (1 to n).map(_.toDouble) =>
      p -> rows.sortBy(site).map(r => struct(lit(r.getDouble(2)).as("dx"), lit(r.getDouble(3)).as("dy")))
    }
    val gridType = ArrayType(StructType(Seq("dx", "dy").map(StructField(_, DoubleType, nullable = false))),
      containsNull = false)
    val grids = if (complete.isEmpty) lit(null).cast(MapType(designValues.schema("product").dataType, gridType))
      else map(complete.flatMap { case (p, grid) => Seq(lit(p), array(grid: _*)) }: _*)
    Design(xColRegex, yColRegex, byProduct.map(_._1), complete.map(_._1), grids)
  }

  /** @param raw      wide per-tool frame: (glassid, product, tstamp) +
    *                 coordinate columns matching xColRegex/yColRegex,
    *                 one row per glass, site order = column order
    * @param designValues long design grid: (product, site_idx, dx, dy)
    */
  def run(@unused spark: SparkSession, raw: DataFrame, designValues: DataFrame,
          xColRegex: String = "^plfn_.*_x$",
          yColRegex: String = "^plfn_.*_y$"): RotResult =
    run(raw, prepare(raw, designValues, xColRegex, yColRegex))

  /** R6 over one measurement: its flattened sites, site i paired with grid
    * point i mod n, through the one checked fit (FitSpec's judge). */
  private val fit = udf { (xs: Seq[Double], ys: Seq[Double], dxs: Seq[Double], dys: Seq[Double]) =>
    RigidFit.fitOneChecked(0L, Iterator.tabulate(xs.size)(i =>
      RigidFit.Site(0L, xs(i), ys(i), dxs(i % dxs.size), dys(i % dys.size))))
  }

  /** The flow over one slice of the raw table `design` was prepared for. */
  private[graft] def run(raw: DataFrame, design: Design): RotResult = {
    val (clean, xCols, yCols) = RotFlow.clean(raw, design.xColRegex, design.yColRegex)
    val n = xCols.size

    // 1.–4. tag each measurement once — −1 missing (P12/K8), −2 no design
    // values (P10), −3 incomplete grid (A5), 1 ok — into a cache the
    // outputs read. No branch is null (it would fall through to the next).
    val tagged = graft.Caches.track(clean.withColumn("flag",
      when(Sinks.missing(xCols ++ yCols), Sinks.FlagMissing)
        .when(col("product").isNull || !col("product").isin(design.products: _*), Sinks.FlagNoDesign)
        .when(!col("product").isin(design.complete: _*), Sinks.FlagBadGrid)
        .otherwise(Sinks.FlagOk)))

    // 5. one row per measurement, paired with its product's grid by a
    // literal lookup (R3, J2). 6. the rigid-body fit of each measurement (R6),
    // cached with it: grouped on the full (glassid, product, tstamp)
    // identity, each product fits on its own as in the reference's
    // per-product loop (D6); rot_id stays keyed on (glassid, tstamp). The
    // CHECKED fit returns failures as values: a degenerate glass
    // (identical design points, non-finite cell) routes to flag −4
    // (reference R/tlcd_nikonrot.R:263-272) instead of poisoning the
    // header with garbage params or aborting the batch.
    val grid = element_at(design.grids, col("product"))
    val fitted = graft.Caches.track(measurements(tagged, xCols, yCols)
      .withColumn("fit", fit(col("sites.x"), col("sites.y"), grid("dx"), grid("dy"))))
    val fits = fitted.filter(col("fit.ok"))

    // 7. apply the transform (R7): x' = x + sx − dy·tan(θ·1e-6)
    val detailLong = sitesOf(fits, n, KeyCols.map(col) :+ col("fit"): _*)
      .withColumn("d", grid(col("site_idx") - 1))
      .withColumn("t", tan(col("fit.thetaUrad") * 1e-6))
      .withColumn("x_rs", col("x") + col("fit.shiftX") - col("d.dy") * col("t"))
      .withColumn("y_rs", col("y") + col("fit.shiftY") + col("d.dx") * col("t"))
      .select("glassid", "product", "tstamp", "site_idx", "x_rs", "y_rs")

    // 8. header/detail with shared deterministic key (K7)
    val header = fits.select(col("glassid"), col("product"), col("tstamp"),
      col("fit.shiftX").as("shift_x"), col("fit.shiftY").as("shift_y"),
      col("fit.thetaUrad").as("theta_urad"), col("fit.nSites").as("n_sites"))
    val (h, d) = Sinks.headerDetail(header, detailLong, Seq("glassid", "tstamp"))

    val errors = tagged.filter(col("flag") =!= Sinks.FlagOk)
      .select(col("glassid"), col("product"), col("flag"),
        when(col("flag") === Sinks.FlagMissing, "missing measurement")
          .when(col("flag") === Sinks.FlagNoDesign, "no design values")
          .otherwise("bad design grid").as("description"))
      .unionByName(fitted.filter(!col("fit.ok")).select(col("glassid"), col("product"),
        lit(Sinks.FlagFitError).as("flag"), concat(lit("fit error: "), col("fit.error")).as("description")))
    RotResult(h, d, errors)
  }
}
