package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.geom.Geom

/** Property-style checks of the geometry kernels: algebraic invariants
  * over seeded random inputs, evaluated through the real Catalyst
  * expressions (one local projection per case). */
class GeomPropertySpec extends AnyFunSuite with SharedSpark {

  private def evalD(c: org.apache.spark.sql.Column): Double =
    spark.range(1).select(c.cast("double")).head().getDouble(0)

  private val rnd = new scala.util.Random(42)
  private def coord(): Double = math.rint(rnd.between(-1000.0, 1000.0) * 10) / 10

  test("rect ring area = w*h and perimeter = 2(w+h) for random rects") {
    for (_ <- 1 to 25) {
      val (x0, y0) = (coord(), coord())
      val w = rnd.between(0.1, 500.0)
      val h = rnd.between(0.1, 500.0)
      val ring = Geom.rectRing(lit(x0), lit(y0), lit(x0 + w), lit(y0 + h))
      assert(math.abs(evalD(Geom.ringArea(ring)) - w * h) < 1e-6 * (w * h + 1))
      assert(math.abs(evalD(Geom.ringPerimeter(ring)) - 2 * (w + h)) < 1e-6)
    }
  }

  test("point-in-ring: interior points in, translated-out points out") {
    for (_ <- 1 to 25) {
      val (x0, y0) = (coord(), coord())
      val s = rnd.between(1.0, 100.0)
      val px = x0 + rnd.between(0.1, 0.9) * s
      val py = y0 + rnd.between(0.1, 0.9) * s
      val ring = Geom.rectRing(lit(x0), lit(y0), lit(x0 + s), lit(y0 + s))
      assert(evalD(GeomSpec.pointInRing(lit(px), lit(py), ring).cast("int")) === 1.0)
      assert(evalD(GeomSpec.pointInRing(lit(px + 2 * s), lit(py), ring)
        .cast("int")) === 0.0)
    }
  }

  test("haversine: symmetric and non-negative") {
    for (_ <- 1 to 25) {
      val (a1, a2) = (rnd.between(-80.0, 80.0), rnd.between(-80.0, 80.0))
      val (o1, o2) = (rnd.between(-179.0, 179.0), rnd.between(-179.0, 179.0))
      val d12 = evalD(Geom.haversineKm(lit(a1), lit(o1), lit(a2), lit(o2)))
      val d21 = evalD(Geom.haversineKm(lit(a2), lit(o2), lit(a1), lit(o1)))
      assert(!d12.isNaN && d12 >= 0.0)
      assert(math.abs(d12 - d21) < 1e-6)
    }
  }

  test("native hausdorff: zero on same set, symmetric, non-negative") {
    import graft.geom.HausdorffDistance
    for (_ <- 1 to 25) {
      def arr() = array(List.fill(rnd.between(1, 5))(
        struct(lit(coord()).as("x"), lit(coord()).as("y"))): _*)
      val a = arr()
      val b = arr()
      val ab = evalD(HausdorffDistance(a, b))
      val ba = evalD(HausdorffDistance(b, a))
      assert(evalD(HausdorffDistance(a, a)) === 0.0)
      assert(ab === ba)
      assert(ab >= 0.0)
    }
  }

  test("native PointInRing matches the lambda formulation on random cases") {
    import graft.geom.PointInRing
    for (_ <- 1 to 50) {
      val (x0, y0) = (coord(), coord())
      val s = rnd.between(1.0, 100.0)
      val px = x0 + rnd.between(-1.5, 1.5) * s
      val py = y0 + rnd.between(-1.5, 1.5) * s
      val ring = Geom.rectRing(lit(x0), lit(y0), lit(x0 + s), lit(y0 + s))
      val native = evalD(PointInRing(lit(px), lit(py), ring).cast("int"))
      val lambda = evalD(GeomSpec.pointInRing(lit(px), lit(py), ring).cast("int"))
      assert(native === lambda)
    }
  }

  test("native clip area: symmetric for convex pairs, bounded, exact for nesting") {
    import graft.geom.PolygonClipArea
    for (_ <- 1 to 25) {
      val (x0, y0) = (coord(), coord())
      val (w1, h1) = (rnd.between(1.0, 200.0), rnd.between(1.0, 200.0))
      // second rect overlaps the first with a random offset
      val (dx, dy) = (rnd.between(-0.9, 0.9) * w1, rnd.between(-0.9, 0.9) * h1)
      val (w2, h2) = (rnd.between(1.0, 200.0), rnd.between(1.0, 200.0))
      val r1 = Geom.rectRing(lit(x0), lit(y0), lit(x0 + w1), lit(y0 + h1))
      val r2 = Geom.rectRing(lit(x0 + dx), lit(y0 + dy),
        lit(x0 + dx + w2), lit(y0 + dy + h2))
      val a12 = evalD(PolygonClipArea(r1, r2))
      val a21 = evalD(PolygonClipArea(r2, r1))
      // convex-x-convex intersection is the same region either way
      assert(math.abs(a12 - a21) < 1e-6 * (a12 + 1))
      assert(a12 >= 0.0 && a12 <= math.min(w1 * h1, w2 * h2) + 1e-6)
      // interval-arithmetic ground truth for axis-aligned rects
      val exact = math.max(0.0,
        math.min(x0 + w1, x0 + dx + w2) - math.max(x0, x0 + dx)) *
        math.max(0.0,
          math.min(y0 + h1, y0 + dy + h2) - math.max(y0, y0 + dy))
      assert(math.abs(a12 - exact) < 1e-6 * (exact + 1))
      // self-clip returns own area
      assert(math.abs(evalD(PolygonClipArea(r1, r1)) - w1 * h1)
        < 1e-6 * (w1 * h1 + 1))
    }
  }

  test("signed-fan general area equals direct convex S-H on random " +
    "convex polygon pairs") {
    import graft.geom.{GeneralClipAreaMicro, PolygonClipArea}
    def longOf(c: org.apache.spark.sql.Column): Long =
      spark.range(1).select(c).head().getLong(0)
    // random convex CCW polygon: points on a circle at sorted angles
    def convex(cx: Double, cy: Double, r: Double, n: Int) = {
      val angles = Seq.fill(n)(rnd.between(0.0, 2 * math.Pi)).sorted
      array(angles.map(a => struct(
        lit(cx + r * math.cos(a)).as("x"),
        lit(cy + r * math.sin(a)).as("y"))): _*)
    }
    for (_ <- 1 to 25) {
      val (cx, cy) = (coord() / 10, coord() / 10)
      val p = convex(cx, cy, rnd.between(5.0, 50.0), rnd.between(3, 8))
      val q = convex(cx + rnd.between(-20.0, 20.0),
        cy + rnd.between(-20.0, 20.0), rnd.between(5.0, 50.0),
        rnd.between(3, 8))
      val general = math.abs(longOf(GeneralClipAreaMicro(p, q))) / 1e6
      val direct = evalD(PolygonClipArea(p, q))
      // each of the <= 36 fan terms carries <= 0.5 micro of rounding
      assert(math.abs(general - direct) < 5e-5 + 1e-9 * direct)
    }
  }

  test("graft_point_in_ring callable from SQL") {
    val (ident, info, builder) = graft.plans.GraftExtensions.pointInRingFunction
    spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    val in = spark.sql(
      """SELECT graft_point_in_ring(0.5d, 0.5d, array(
        |  named_struct('x', 0.0d, 'y', 0.0d),
        |  named_struct('x', 1.0d, 'y', 0.0d),
        |  named_struct('x', 1.0d, 'y', 1.0d),
        |  named_struct('x', 0.0d, 'y', 1.0d))) AS v""".stripMargin)
      .head().getBoolean(0)
    assert(in)
  }
}
