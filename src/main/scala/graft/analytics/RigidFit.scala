package graft.analytics

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Per-glass rigid-body shift+rotate least-squares fit — the reference's
  * distinctive numeric operator (objective at reference R/basic_fun.R:25-33,
  * solved per glass with `optim(method = "L-BFGS-B")` at
  * R/tlcd_nikonrot.R:231-238 and R/tlcd_nikonrot_mea.R:178-185).
  *
  * Objective: minimize over (sx, sy, θ)
  *   Σ [(x + sx − dy·tan(θ·1e-6))² + (y + sy + dx·tan(θ·1e-6))²]
  *
  * The objective is a convex quadratic in (sx, sy, t = tanθ), so each
  * glass is solved in closed form by its normal equations — the same
  * minimizer the reference's L-BFGS-B converges to (its ±1e6 box never
  * binds), computed exactly instead of to a solver tolerance. FitSpec
  * checks it against an L-BFGS-B solve of [[objective]]. Each glass has
  * ≤48 sites in the reference, so a fit's payload is tiny and skew-safe:
  * the flows (RotFlow) group each measurement's sites into one row and
  * call [[fitOneChecked]] on it; [[fit]] runs the same fit as
  * `groupByKey.mapGroups` over [[Site]] rows. At 100 TB either is one
  * shuffle on the glass key and embarrassingly parallel fitting. The
  * q19 oracle query (queries.Analytics.fitParams) solves the same
  * equations as a plain aggregation.
  */
object RigidFit {

  case class Site(glass: Long, x: Double, y: Double, dx: Double, dy: Double)
  case class Fit(glass: Long, nSites: Int, shiftX: Double, shiftY: Double, thetaUrad: Double)

  /** Outcome of a checked fit: `ok = false` carries the failure reason
    * (reference flag −4 taxonomy, R/tlcd_nikonrot.R:263-272 — optim
    * failures are inserted into the error table, never silently kept). */
  case class FitAttempt(glass: Long, nSites: Int, shiftX: Double, shiftY: Double,
                        thetaUrad: Double, ok: Boolean, error: String)

  /** The reference's objective (R/basic_fun.R:25-33), θ in microradians. */
  def objective(xs: Array[Double], ys: Array[Double],
                dxs: Array[Double], dys: Array[Double])(sx: Double, sy: Double, thetaUrad: Double): Double = {
    val t = math.tan(thetaUrad * 1e-6)
    var s = 0.0
    var i = 0
    while (i < xs.length) {
      val rx = xs(i) + sx - dys(i) * t
      val ry = ys(i) + sy + dxs(i) * t
      s += rx * rx + ry * ry
      i += 1
    }
    s
  }

  /** Fit one glass; throws on input [[fitOneChecked]] rejects. */
  def fitOne(glass: Long, sites: Iterator[Site]): Fit = {
    val a = fitOneChecked(glass, sites)
    require(a.ok, s"fit failed for glass $glass: ${a.error}")
    Fit(a.glass, a.nSites, a.shiftX, a.shiftY, a.thetaUrad)
  }

  /** Checked fit: degenerate input yields `FitAttempt(ok = false, error =
    * reason)` instead of garbage params — the caller routes those to the
    * flag −4 dead letter (K8). Failure classes, mirroring what makes the
    * reference's `optim` call error:
    *  - non-finite measurement/design coordinates (objective undefined);
    *  - rotation-unidentifiable design (all (dx, dy) equal — the θ
    *    column of the normal matrix collapses into the shift columns,
    *    e.g. a degenerate all-identical design grid);
    *  - a non-finite solution (overflow). */
  def fitOneChecked(glass: Long, sites: Iterator[Site]): FitAttempt = {
    val arr = sites.toArray
    def fail(reason: String) = FitAttempt(glass, arr.length, 0.0, 0.0, 0.0, ok = false, reason)
    if (arr.exists(p => !java.lang.Double.isFinite(p.x) || !java.lang.Double.isFinite(p.y) ||
        !java.lang.Double.isFinite(p.dx) || !java.lang.Double.isFinite(p.dy)))
      return fail("non-finite coordinate")
    if (arr.forall(p => p.dx == arr.head.dx && p.dy == arr.head.dy))
      return fail("rotation unidentifiable: all design points identical")
    val f = fitSolve(arr)
    if (!java.lang.Double.isFinite(f.shiftX) || !java.lang.Double.isFinite(f.shiftY) ||
        !java.lang.Double.isFinite(f.thetaUrad))
      fail("non-finite parameters")
    else FitAttempt(glass, f.nSites, f.shiftX, f.shiftY, f.thetaUrad, ok = true, "")
  }

  /** The normal equations with centred two-pass sums: with u = (x, y) −
    * mean and c = (dx, dy) − mean,
    *   t = Σ(ux·cy − uy·cx) / Σ(cx² + cy²),
    *   sx = t·mean(dy) − mean(x),  sy = −mean(y) − t·mean(dx).
    * Centring first keeps the sums exact for design grids far from the
    * origin, where raw sums of squares would cancel. */
  private def fitSolve(arr: Array[Site]): Fit = {
    val n = arr.length
    var mx = 0.0; var my = 0.0; var mdx = 0.0; var mdy = 0.0
    arr.foreach { p => mx += p.x; my += p.y; mdx += p.dx; mdy += p.dy }
    mx /= n; my /= n; mdx /= n; mdy /= n
    var num = 0.0; var den = 0.0
    arr.foreach { p =>
      val cx = p.dx - mdx; val cy = p.dy - mdy
      num += (p.x - mx) * cy - (p.y - my) * cx
      den += cx * cx + cy * cy
    }
    val t = num / den
    Fit(arr.head.glass, n, t * mdy - mx, -my - t * mdx, math.atan(t) * 1e6)
  }

  /** Distributed fit: one row per glass. Input must have columns
    * (glass, x, y, dx, dy). Throws on a degenerate glass — callers that
    * must survive bad input call [[fitOneChecked]] and route failures. */
  def fit(sites: Dataset[Site]): Dataset[Fit] = {
    import sites.sparkSession.implicits._
    sites.groupByKey(_.glass).mapGroups((g, it) => fitOne(g, it))
  }

  /** DataFrame adapter over the embeddings testdata layout used by the
    * Analytics queries (element_at is 1-based). */
  def fromEmbeddings(s: SparkSession, dir: String): Dataset[Site] = {
    import s.implicits._
    graft.Tables.embeddings(s, dir)
      .select(col("label").cast("long").as("glass"),
        element_at(col("embedding"), 1).cast("double").as("x"),
        element_at(col("embedding"), 2).cast("double").as("y"),
        element_at(col("embedding"), 3).cast("double").as("dx"),
        element_at(col("embedding"), 4).cast("double").as("dy"))
      .as[Site]
  }

  def fitted(s: SparkSession, dir: String): DataFrame =
    fit(fromEmbeddings(s, dir)).toDF()
}
