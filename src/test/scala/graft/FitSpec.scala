package graft

import breeze.linalg.DenseVector
import breeze.optimize.{DiffFunction, LBFGSB}
import graft.analytics.RigidFit
import graft.analytics.RigidFit.{Fit, Site}
import org.scalatest.matchers.should.Matchers._

/** Rigid-body fit: RigidFit's closed-form normal equations must agree
  * with the reference's own method, an L-BFGS-B solve of the objective
  * (R/basic_fun.R:25-33) from (0,0,0) as `optim` runs it
  * (R/tlcd_nikonrot.R:231-238) — the objective is a convex quadratic in
  * (sx, sy, tanθ), so both find the same global minimum. */
class FitSpec extends SparkTestBase {

  /** L-BFGS-B from (0,0,0), bounds ±1e6 (effectively unbounded, matching
    * optim's default box when none binds). The reference parameterizes
    * rotation in microradians (t = tan(θ·1e-6)), which makes the
    * θ-direction curvature ~1e-12 of the shift directions, and a design
    * grid far from the origin couples shift and rotation — hopeless
    * conditioning for a quasi-Newton solver. So this optimizes over
    * a = sx − t·mean(dy), b = sy + t·mean(dx) and v = t·S with
    * S = sqrt(Σ(cx²+cy²)/n) over the centred design c = (dx, dy) − mean:
    * the same objective written in new variables, with the same minimum
    * and an identity-shaped Hessian, converted back at the end. */
  private def lbfgsb(sites: Seq[Site]): (Double, Double, Double) = {
    val n = sites.size
    val mdx = sites.map(_.dx).sum / n; val mdy = sites.map(_.dy).sum / n
    val xs = sites.map(_.x).toArray; val ys = sites.map(_.y).toArray
    val cxs = sites.map(_.dx - mdx).toArray; val cys = sites.map(_.dy - mdy).toArray
    val scale = math.sqrt(cxs.zip(cys).map { case (cx, cy) => cx * cx + cy * cy }.sum / n)
    val f = new DiffFunction[DenseVector[Double]] {
      def calculate(p: DenseVector[Double]): (Double, DenseVector[Double]) = {
        val t = p(2) / scale
        var s = 0.0; var ga = 0.0; var gb = 0.0; var gt = 0.0
        var i = 0
        while (i < xs.length) {
          val rx = xs(i) + p(0) - cys(i) * t
          val ry = ys(i) + p(1) + cxs(i) * t
          s += rx * rx + ry * ry
          ga += 2 * rx
          gb += 2 * ry
          gt += 2 * (-rx * cys(i) + ry * cxs(i))
          i += 1
        }
        (s, DenseVector(ga, gb, gt / scale))
      }
    }
    val solver = new LBFGSB(DenseVector(-1e6, -1e6, -1e6), DenseVector(1e6, 1e6, 1e6),
      maxIter = 500, m = 7, tolerance = 1e-14)
    val p = solver.minimize(f, DenseVector(0.0, 0.0, 0.0))
    val t = p(2) / scale
    (p(0) + t * mdy, p(1) - t * mdx, math.atan(t) * 1e6)
  }

  /** Measured diffs for planted (sx, sy, θµrad) on a design grid: the
    * fit recovers the planted parameters up to the noise. */
  private def glass(glass: Long, design: Seq[(Double, Double)], sx: Double, sy: Double,
                    thetaUrad: Double, noise: () => Double = () => 0.0): Seq[Site] = {
    val t = math.tan(thetaUrad * 1e-6)
    design.map { case (dx, dy) => Site(glass, -sx + dy * t + noise(), -sy - dx * t + noise(), dx, dy) }
  }

  private val grid6x8 = (0 until 48).map(i => ((i / 6) * 10.0, (i % 6) * 10.0))

  private def synthGlass(g: Long, seed: Int): Seq[Site] = {
    val rnd = new scala.util.Random(seed)
    // true params: shift + small rotation (µrad scale, like the tool)
    glass(g, grid6x8, 0.3 + rnd.nextDouble(), -0.2 + rnd.nextDouble(), 50.0 * rnd.nextDouble(),
      () => rnd.nextGaussian() * 0.01)
  }

  private def agreesWithLbfgsb(sites: Seq[Site]): Fit = {
    val fit = RigidFit.fitOne(sites.head.glass, sites.iterator)
    val (sx, sy, theta) = lbfgsb(sites)
    fit.shiftX shouldBe sx +- 1e-6
    fit.shiftY shouldBe sy +- 1e-6
    math.tan(fit.thetaUrad * 1e-6) shouldBe math.tan(theta * 1e-6) +- 1e-9
    fit
  }

  test("L-BFGS-B matches closed-form normal equations on synthetic glasses") {
    for (g <- 0 until 5) agreesWithLbfgsb(synthGlass(g, 1000 + g))
  }

  test("closed form stays exact on a design grid far from the origin") {
    // raw sums of squares (~1e10 per site) cancel against the 10-unit
    // grid spread: the uncentred normal equations land ~1e-8 off here,
    // the centred ones ~1e-13
    val offset = grid6x8.map { case (dx, dy) => (dx + 1e5, dy + 1e5) }
    val rnd = new scala.util.Random(5)
    agreesWithLbfgsb(glass(1, offset, 0.7, -0.4, 35.0, () => rnd.nextGaussian() * 0.01))
    val exact = RigidFit.fitOne(2, glass(2, offset, 0.7, -0.4, 35.0).iterator)
    exact.shiftX shouldBe 0.7 +- 1e-9
    exact.shiftY shouldBe -0.4 +- 1e-9
    exact.thetaUrad shouldBe 35.0 +- 1e-9
  }

  test("the benchmark's noise-free 4x4 grid recovers the planted parameters to 1e-9") {
    // perfbench's fab layout: dx = ((i−1)/4)·100, dy = ((i−1)%4)·50,
    // shifts in ±2 (cents), θ in ±200 µrad (three decimals)
    val grid = (1 to 16).map(i => (((i - 1) / 4) * 100.0, ((i - 1) % 4) * 50.0))
    val rnd = new scala.util.Random(3)
    for (g <- 0 until 20) {
      val (sx, sy) = (math.round(rnd.nextDouble() * 400 - 200) / 100.0, math.round(rnd.nextDouble() * 400 - 200) / 100.0)
      val theta = math.round((rnd.nextDouble() * 400 - 200) * 1000) / 1000.0
      val fit = agreesWithLbfgsb(glass(g, grid, sx, sy, theta))
      fit.shiftX shouldBe sx +- 1e-9
      fit.shiftY shouldBe sy +- 1e-9
      fit.thetaUrad shouldBe theta +- 1e-9
    }
  }

  test("objective at solution is no worse than at truth or zero") {
    val sites = synthGlass(7, 77)
    val xs = sites.map(_.x).toArray; val ys = sites.map(_.y).toArray
    val dxs = sites.map(_.dx).toArray; val dys = sites.map(_.dy).toArray
    val obj = RigidFit.objective(xs, ys, dxs, dys) _
    val fit = RigidFit.fitOne(7, sites.iterator)
    val atFit = obj(fit.shiftX, fit.shiftY, fit.thetaUrad)
    // the closed form is the exact minimizer: no worse than L-BFGS-B either
    val (sx, sy, theta) = lbfgsb(sites)
    assert(atFit <= obj(sx, sy, theta) * (1 + 1e-12))
    assert(atFit <= obj(0.0, 0.0, 0.0))
  }

  test("degenerate glasses fail the checked fit instead of returning garbage") {
    val flat = RigidFit.fitOneChecked(1, glass(1, Seq.fill(8)((5.0, 5.0)), 0.1, 0.1, 1.0).iterator)
    assert(!flat.ok && flat.error.contains("unidentifiable"))
    val nan = RigidFit.fitOneChecked(2, (synthGlass(2, 2) :+ Site(2, Double.NaN, 0, 0, 0)).iterator)
    assert(!nan.ok && nan.error.contains("non-finite coordinate"))
    val huge = RigidFit.fitOneChecked(3, Seq(Site(3, 1e308, 1e308, 0, 0), Site(3, -1e308, -1e308, 1, 0)).iterator)
    assert(!huge.ok && huge.error.contains("non-finite parameters"))
  }

  test("distributed fit over embeddings matches per-glass local fit") {
    val ds = RigidFit.fromEmbeddings(spark, sfDir)
    val local = ds.collect().groupBy(_.glass).map { case (g, arr) =>
      g -> RigidFit.fitOne(g, arr.iterator)
    }
    val dist = RigidFit.fit(ds).collect().map(f => f.glass -> f).toMap
    assert(dist.keySet == local.keySet)
    dist.foreach { case (g, f) =>
      val l: Fit = local(g)
      f.shiftX shouldBe l.shiftX +- 1e-8
      f.shiftY shouldBe l.shiftY +- 1e-8
    }
  }
}
