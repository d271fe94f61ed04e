package graft.analytics

import breeze.linalg.DenseVector
import breeze.optimize.{DiffFunction, LBFGSB}
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
  * Two implementations:
  *  - [[fitLBFGSB]]: iterative L-BFGS-B via breeze, started at (0,0,0) like
  *    the reference — faithful to its numerics. Runs as
  *    `groupByKey.mapGroups`: each glass has ≤48 sites in the reference, so
  *    the per-group payload is tiny and skew-safe; at 100 TB this is one
  *    shuffle on the glass key and embarrassingly parallel fitting.
  *  - the closed-form normal equations (the objective is linear in
  *    (sx, sy, tanθ)) live in queries.Analytics.fitParams as a plain
  *    aggregation; FitSpec asserts both agree to 1e-6.
  */
object RigidFit {

  case class Site(glass: Long, x: Double, y: Double, dx: Double, dy: Double)
  case class Fit(glass: Long, nSites: Int, shiftX: Double, shiftY: Double, thetaUrad: Double)

  /** Outcome of a checked fit: `ok = false` carries the failure reason
    * (reference flag −4 taxonomy, R/tlcd_nikonrot.R:263-272 — optim
    * failures are inserted into the error table, never silently kept). */
  case class FitAttempt(glass: Long, nSites: Int, shiftX: Double, shiftY: Double,
                        thetaUrad: Double, ok: Boolean, error: String)

  /** The reference's objective (R/basic_fun.R:25-33), t in microradians. */
  def objective(xs: Array[Double], ys: Array[Double],
                dxs: Array[Double], dys: Array[Double])(p: DenseVector[Double]): Double = {
    val t = math.tan(p(2) * 1e-6)
    var s = 0.0
    var i = 0
    while (i < xs.length) {
      val rx = xs(i) + p(0) - dys(i) * t
      val ry = ys(i) + p(1) + dxs(i) * t
      s += rx * rx + ry * ry
      i += 1
    }
    s
  }

  /** Fit one glass with L-BFGS-B from (0,0,0), bounds ±1e6 (effectively
    * unbounded, matching optim's default box when none binds).
    *
    * The reference parameterizes rotation in microradians (t = tan(θ·1e-6)),
    * which makes the θ-direction curvature ~1e-12 of the shift directions —
    * hopeless conditioning for a quasi-Newton solver. We optimize over the
    * rescaled variable v = t·S with S = sqrt(Σ(dx²+dy²)/n) (same objective,
    * same minimum, condition number ~1) and convert back to θ at the end. */
  def fitOne(glass: Long, sites: Iterator[Site]): Fit = {
    val a = fitOneChecked(glass, sites)
    require(a.ok, s"fit failed for glass $glass: ${a.error}")
    Fit(a.glass, a.nSites, a.shiftX, a.shiftY, a.thetaUrad)
  }

  /** Checked fit: degenerate or non-convergent input yields
    * `FitAttempt(ok = false, error = reason)` instead of garbage params —
    * the caller routes those to the flag −4 dead letter (K8). Failure
    * classes, mirroring what makes the reference's `optim` call error:
    *  - non-finite measurement/design coordinates (objective undefined);
    *  - rotation-unidentifiable design (all (dx, dy) equal — the θ
    *    column of the normal matrix collapses into the shift columns,
    *    e.g. a degenerate all-identical design grid);
    *  - solver abort or a non-finite solution. */
  def fitOneChecked(glass: Long, sites: Iterator[Site]): FitAttempt = {
    val arr = sites.toArray
    def fail(reason: String) = FitAttempt(glass, arr.length, 0.0, 0.0, 0.0, ok = false, reason)
    if (arr.exists(p => !java.lang.Double.isFinite(p.x) || !java.lang.Double.isFinite(p.y) ||
        !java.lang.Double.isFinite(p.dx) || !java.lang.Double.isFinite(p.dy)))
      return fail("non-finite coordinate")
    if (arr.forall(p => p.dx == arr.head.dx && p.dy == arr.head.dy))
      return fail("rotation unidentifiable: all design points identical")
    try {
      val f = fitSolve(arr)
      if (!java.lang.Double.isFinite(f.shiftX) || !java.lang.Double.isFinite(f.shiftY) ||
          !java.lang.Double.isFinite(f.thetaUrad))
        fail("solver returned non-finite parameters")
      else FitAttempt(glass, f.nSites, f.shiftX, f.shiftY, f.thetaUrad, ok = true, "")
    } catch {
      case e: Exception => fail(s"solver abort: ${e.getClass.getSimpleName}")
    }
  }

  private def fitSolve(arr: Array[Site]): Fit = {
    val glass = arr.head.glass
    val xs = arr.map(_.x); val ys = arr.map(_.y)
    val dxs = arr.map(_.dx); val dys = arr.map(_.dy)
    val scale = {
      var s = 0.0; var i = 0
      while (i < xs.length) { s += dxs(i) * dxs(i) + dys(i) * dys(i); i += 1 }
      math.max(math.sqrt(s / xs.length), 1e-300)
    }
    val f = new DiffFunction[DenseVector[Double]] {
      def calculate(p: DenseVector[Double]): (Double, DenseVector[Double]) = {
        val t = p(2) / scale
        var s = 0.0; var gx = 0.0; var gy = 0.0; var gt = 0.0
        var i = 0
        while (i < xs.length) {
          val rx = xs(i) + p(0) - dys(i) * t
          val ry = ys(i) + p(1) + dxs(i) * t
          s += rx * rx + ry * ry
          gx += 2 * rx
          gy += 2 * ry
          gt += 2 * (-rx * dys(i) + ry * dxs(i))
          i += 1
        }
        (s, DenseVector(gx, gy, gt / scale))
      }
    }
    val solver = new LBFGSB(DenseVector(-1e6, -1e6, -1e6), DenseVector(1e6, 1e6, 1e6),
      maxIter = 500, m = 7, tolerance = 1e-14)
    val p = solver.minimize(f, DenseVector(0.0, 0.0, 0.0))
    Fit(glass, arr.length, p(0), p(1), math.atan(p(2) / scale) * 1e6)
  }

  /** Distributed fit: one row per glass. Input must have columns
    * (glass, x, y, dx, dy). Throws on a degenerate glass — callers that
    * must survive bad input use [[fitChecked]] and route failures. */
  def fit(sites: Dataset[Site]): Dataset[Fit] = {
    import sites.sparkSession.implicits._
    sites.groupByKey(_.glass).mapGroups((g, it) => fitOne(g, it))
  }

  /** Distributed checked fit: one [[FitAttempt]] per glass; failures come
    * back as rows (`ok = false`), not exceptions — one bad glass must
    * dead-letter, not abort a 100 TB batch. */
  def fitChecked(sites: Dataset[Site]): Dataset[FitAttempt] = {
    import sites.sparkSession.implicits._
    sites.groupByKey(_.glass).mapGroups((g, it) => fitOneChecked(g, it))
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
