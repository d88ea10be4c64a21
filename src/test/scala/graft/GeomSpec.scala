package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.geom.Geom

class GeomSpec extends AnyFunSuite with SharedSpark {

  private def one(c: org.apache.spark.sql.Column): Any = {
    import scala.jdk.CollectionConverters._
    spark.range(1).select(c.as("v")).head().get(0)
  }

  private val unitSquare =
    "array(struct(0.0d x, 0.0d y), struct(1.0d x, 0.0d y), " +
      "struct(1.0d x, 1.0d y), struct(0.0d x, 1.0d y))"

  test("ringArea: unit square = 1 (open ring auto-closes)") {
    assert(one(Geom.ringArea(expr(unitSquare))) === 1.0)
  }

  test("ringPerimeter: unit square = 4") {
    assert(one(Geom.ringPerimeter(expr(unitSquare))) === 4.0)
  }

  test("pointInRing: center in, outside out") {
    assert(one(GeomSpec.pointInRing(lit(0.5), lit(0.5), expr(unitSquare)))
      === true)
    assert(one(GeomSpec.pointInRing(lit(1.5), lit(0.5), expr(unitSquare)))
      === false)
  }

  test("lineLength: 3-4-5 triangle legs") {
    val line = "array(struct(0.0d x, 0.0d y), struct(3.0d x, 0.0d y), " +
      "struct(3.0d x, 4.0d y))"
    assert(one(Geom.lineLength(expr(line))) === 7.0)
  }

  test("hausdorff: identical lines = 0, known offset") {
    val a = "array(struct(0.0d x, 0.0d y), struct(1.0d x, 0.0d y))"
    val b = "array(struct(0.0d x, 2.0d y), struct(1.0d x, 2.0d y))"
    assert(one(GeomSpec.hausdorff(expr(a), expr(a))) === 0.0)
    assert(one(GeomSpec.hausdorff(expr(a), expr(b))) === 2.0)
  }

  test("haversine: zero distance at same point; equator quarter") {
    assert(one(Geom.haversineKm(lit(10.0), lit(20.0), lit(10.0), lit(20.0)))
      === 0.0)
    val d = one(Geom.haversineKm(lit(0.0), lit(0.0), lit(0.0), lit(90.0)))
      .asInstanceOf[Double]
    assert(math.abs(d - 10007.0) < 20.0) // quarter circumference, r=6367
  }

  test("native HausdorffDistance matches the lambda formulation bit-for-bit") {
    import graft.geom.HausdorffDistance
    val lines = GeoData.linesOrders(spark, SfDir).limit(200)
    val a = lines.select(col("lid").as("la"), col("pts").as("pa"))
    val b = lines.select(col("lid").as("lb"), col("pts").as("pb"))
    val pairs = a.crossJoin(b.limit(20))
    val diff = pairs.select(
        HausdorffDistance(col("pa"), col("pb")).as("native"),
        GeomSpec.hausdorff(col("pa"), col("pb")).as("lambda"))
      .filter(col("native") =!= col("lambda"))
    assert(diff.count() === 0)
  }

  test("native HausdorffDistance returns NULL for empty vertex arrays") {
    import graft.geom.HausdorffDistance
    val full = "array(struct(0.0d x, 0.0d y))"
    val empty = "array_remove(array(struct(0.0d x, 0.0d y)), struct(0.0d x, 0.0d y))"
    // one side empty, other side empty, both empty — all NULL, in both
    // the interpreted and the codegen path (the df.select goes through
    // whole-stage codegen)
    val r = spark.range(1).select(
      HausdorffDistance(expr(full), expr(empty)).as("a"),
      HausdorffDistance(expr(empty), expr(full)).as("b"),
      HausdorffDistance(expr(empty), expr(empty)).as("c")).head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("fanTriangles: notched pentagon has a negative middle triangle") {
    val pent = "array(struct(0.0d x, 0.0d y), struct(10.0d x, 0.0d y), " +
      "struct(10.0d x, 10.0d y), struct(5.0d x, 2.5d y), struct(0.0d x, 10.0d y))"
    val signs = spark.range(1)
      .select(transform(GeomSpec.fanTriangles(expr(pent)), t => t("s")).as("s"))
      .head().getSeq[Double](0)
    assert(signs === Seq(1.0, -1.0, 1.0))
  }

  test("generalIntersectionAreaMicro: convex case matches direct S-H") {
    // two overlapping axis-aligned squares -> area 1.0 exactly
    val s1 = "array(struct(0.0d x, 0.0d y), struct(2.0d x, 0.0d y), " +
      "struct(2.0d x, 2.0d y), struct(0.0d x, 2.0d y))"
    val s2 = "array(struct(1.0d x, 1.0d y), struct(3.0d x, 1.0d y), " +
      "struct(3.0d x, 3.0d y), struct(1.0d x, 3.0d y))"
    val m = one(GeomSpec.generalIntersectionAreaMicro(expr(s1), expr(s2)))
      .asInstanceOf[Long]
    assert(m === 1000000L)
  }

  test("generalIntersectionAreaMicro: concave x concave matches the " +
    "convex-parts decomposition") {
    import graft.geom.PolyClip
    // notched pentagon subjects (concave) x an L-shaped clip given BOTH
    // as one concave ring (general path, fanned from the bottom-right so
    // a clip triangle is negative) and as two convex parts (proven path)
    val pents = spark.range(60).selectExpr(
      "id",
      "CAST(id % 8 AS DOUBLE) * 2.5 AS x0",
      "CAST(id % 7 AS DOUBLE) * 2.5 AS y0",
      "CAST(id % 8 AS DOUBLE) * 2.5 + 6.0 AS x1",
      "CAST(id % 7 AS DOUBLE) * 2.5 + 6.0 AS y1")
    def pt(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      struct(x.as("x"), y.as("y"))
    val subject = array(
      pt(col("x0"), col("y0")), pt(col("x1"), col("y0")),
      pt(col("x1"), col("y1")),
      pt((col("x0") + col("x1")) / 2.0,
        col("y0") + (col("y1") - col("y0")) * 0.25),
      pt(col("x0"), col("y1")))
    // L over [0,20]^2: bottom bar [0,20]x[0,10] + column [0,8]x[10,20]
    val lRing = array(
      pt(lit(20.0), lit(0.0)), pt(lit(20.0), lit(10.0)),
      pt(lit(8.0), lit(10.0)), pt(lit(8.0), lit(20.0)),
      pt(lit(0.0), lit(20.0)), pt(lit(0.0), lit(0.0)))
    val part1 = array(pt(lit(0.0), lit(0.0)), pt(lit(20.0), lit(0.0)),
      pt(lit(20.0), lit(10.0)), pt(lit(0.0), lit(10.0)))
    val part2 = array(pt(lit(0.0), lit(10.0)), pt(lit(8.0), lit(10.0)),
      pt(lit(8.0), lit(20.0)), pt(lit(0.0), lit(20.0)))
    val general = abs(GeomSpec.generalIntersectionAreaMicro(subject, lRing))
      .cast("double") / 1000000.0
    val parts = PolyClip.clipAreaConvexParts(subject, array(part1, part2))
    val bad = pents.select(general.as("g"), parts.as("p"))
      .filter(abs(col("g") - col("p")) > 1e-3)
    assert(bad.count() === 0)
  }

  test("native GeneralClipAreaMicro matches the HOF twin bit-for-bit") {
    import graft.geom.GeneralClipAreaMicro
    // notched pentagons x L-rings over shifted frames — negative fan
    // triangles on both sides, evaluated through whole-stage codegen
    val frames = spark.range(80).selectExpr(
      "id",
      "CAST(id % 9 AS DOUBLE) * 2.0 AS x0",
      "CAST(id % 11 AS DOUBLE) * 1.5 AS y0",
      "CAST(id % 9 AS DOUBLE) * 2.0 + CAST(id % 4 + 4 AS DOUBLE) AS x1",
      "CAST(id % 11 AS DOUBLE) * 1.5 + CAST(id % 5 + 4 AS DOUBLE) AS y1")
    def pt(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      struct(x.as("x"), y.as("y"))
    val subject = array(
      pt(col("x0"), col("y0")), pt(col("x1"), col("y0")),
      pt(col("x1"), col("y1")),
      pt((col("x0") + col("x1")) / 2.0,
        col("y0") + (col("y1") - col("y0")) * 0.25),
      pt(col("x0"), col("y1")))
    val lRing = array(
      pt(lit(20.0), lit(0.0)), pt(lit(20.0), lit(10.0)),
      pt(lit(8.0), lit(10.0)), pt(lit(8.0), lit(20.0)),
      pt(lit(0.0), lit(20.0)), pt(lit(0.0), lit(0.0)))
    val diff = frames.select(
        GeneralClipAreaMicro(subject, lRing).as("native"),
        GeomSpec.generalIntersectionAreaMicro(subject, lRing).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.count() === 0)
  }

  test("graft_clip_area is callable from SQL via extensions registration") {
    val (ident, info, builder) = graft.plans.GraftExtensions.clipAreaFunction
    spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    val a = spark.sql(
      """SELECT graft_clip_area(
        |  array(named_struct('x', 0.0d, 'y', 0.0d),
        |        named_struct('x', 4.0d, 'y', 0.0d),
        |        named_struct('x', 4.0d, 'y', 4.0d),
        |        named_struct('x', 0.0d, 'y', 4.0d)),
        |  array(named_struct('x', 2.0d, 'y', 2.0d),
        |        named_struct('x', 6.0d, 'y', 2.0d),
        |        named_struct('x', 6.0d, 'y', 6.0d),
        |        named_struct('x', 2.0d, 'y', 6.0d))) AS a""".stripMargin)
      .head().getDouble(0)
    assert(a === 4.0)
  }

  test("graft_general_clip_area_micro is callable from SQL") {
    val (ident, info, builder) =
      graft.plans.GraftExtensions.generalClipAreaFunction
    spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    // overlapping unit squares -> exactly 1.0 = 1,000,000 micro-units
    val m = spark.sql(
      """SELECT graft_general_clip_area_micro(
        |  array(named_struct('x', 0.0d, 'y', 0.0d),
        |        named_struct('x', 2.0d, 'y', 0.0d),
        |        named_struct('x', 2.0d, 'y', 2.0d),
        |        named_struct('x', 0.0d, 'y', 2.0d)),
        |  array(named_struct('x', 1.0d, 'y', 1.0d),
        |        named_struct('x', 3.0d, 'y', 1.0d),
        |        named_struct('x', 3.0d, 'y', 3.0d),
        |        named_struct('x', 1.0d, 'y', 3.0d))) AS m""".stripMargin)
      .head().getLong(0)
    assert(m === 1000000L)
  }

  test("clip rings general: per-pair ring area equals the exact box-" +
    "union area, and disconnected components really occur") {
    import org.apache.spark.sql.functions._
    val rows = graft.queries.PolyQueries.qClipRingsGeneral(spark, SfDir)
      .collect()
    assert(rows.nonEmpty)
    // group vertices per (pair, ring) in walk order
    val rings = rows.groupBy(r => (r.getAs[Long]("ida"),
        r.getAs[Long]("idb"), r.getAs[Int]("ring")))
      .map { case (k, vs) =>
        k -> vs.sortBy(_.getAs[Int]("vi"))
          .map(r => (r.getAs[Double]("x"), r.getAs[Double]("y")))
      }
    // the U's two prongs crossing the L must yield >= one pair with
    // two DISCONNECTED rings — the case a single S-H ring can't emit
    assert(rings.keys.exists(_._3 > 0), "no multi-component pair found")
    // shoelace per ring; outer rings all walk one orientation here
    // (no holes are geometrically possible for this U ∩ L family)
    def shoelace(vs: Array[(Double, Double)]): Double =
      vs.indices.map { i =>
        val (x1, y1) = vs(i); val (x2, y2) = vs((i + 1) % vs.length)
        x1 * y2 - x2 * y1
      }.sum / 2.0
    val ringArea = rings.toSeq
      .groupBy { case ((ida, idb, _), _) => (ida, idb) }
      .map { case (k, rs) =>
        k -> rs.map { case (_, vs) => math.abs(shoelace(vs)) }.sum }
    // independent truth: the ≤6 candidate boxes have pairwise DISJOINT
    // interiors (U parts disjoint x L parts disjoint), so the exact
    // intersection area is the plain sum of box areas
    val a = graft.GeoData.rectCustomer(spark, SfDir)
    val b = graft.GeoData.polyNation(spark, SfDir)
      .select(col("pid").as("rid"), col("x0"), col("y0"),
        col("x1"), col("y1"))
    val pairs = graft.operators.Rects.intersectPairs(a, b, 20.0)
      .collect()
    val truth = pairs.map { r =>
      val (ax0, ay0, ax1, ay1) = (r.getAs[Double]("ax0"),
        r.getAs[Double]("ay0"), r.getAs[Double]("ax1"),
        r.getAs[Double]("ay1"))
      val (bx0, by0, bx1, by1) = (r.getAs[Double]("bx0"),
        r.getAs[Double]("by0"), r.getAs[Double]("bx1"),
        r.getAs[Double]("by1"))
      val midY = ay0 + (ay1 - ay0) / 2.0
      val qw = (ax1 - ax0) / 4.0
      val u = Seq((ax0, ay0, ax1, midY), (ax0, midY, ax0 + qw, ay1),
        (ax1 - qw, midY, ax1, ay1))
      val l = Seq((bx0, by0, bx1, by0 + 10.0),
        (bx0, by0 + 10.0, bx0 + 8.0, by1))
      val area = (for { (ux0, uy0, ux1, uy1) <- u
                        (lx0, ly0, lx1, ly1) <- l } yield {
        val w = math.min(ux1, lx1) - math.max(ux0, lx0)
        val h = math.min(uy1, ly1) - math.max(uy0, ly0)
        if (w > 0 && h > 0) w * h else 0.0
      }).sum
      (r.getAs[Long]("ida"), r.getAs[Long]("idb")) -> area
    }.toMap
    assert(ringArea.nonEmpty)
    ringArea.foreach { case (k, ra) =>
      assert(math.abs(ra - truth(k)) < 1e-6, s"pair $k: $ra vs ${truth(k)}")
    }
    // and every positive-truth pair produced rings
    truth.filter(_._2 > 0).keys.foreach(k =>
      assert(ringArea.contains(k), s"pair $k missing rings"))
  }

  test("graft_hausdorff is callable from SQL via extensions registration") {
    val (ident, info, builder) = graft.plans.GraftExtensions.hausdorffFunction
    spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    val d = spark.sql(
      """SELECT graft_hausdorff(
        |  array(named_struct('x', 0.0d, 'y', 0.0d)),
        |  array(named_struct('x', 3.0d, 'y', 4.0d))) AS d""".stripMargin)
      .head().getDouble(0)
    assert(d === 5.0)
  }
}

/** Higher-order-function reference forms of the native geometry
  * kernels (Hausdorff, RayCast, SutherlandHodgman, GeneralClip): the
  * specs' independent formulations of the same semantics, asserted
  * bit-equal to the kernels. */
object GeomSpec {
  import org.apache.spark.sql.Column
  import graft.geom.PolygonClipArea

  // ------------------------------------------ Sutherland–Hodgman (1974)
  // Fold the subject polygon's vertex list over the clip polygon's
  // edges; each step keeps the part of the subject on the inner side of
  // one clip edge. The clip ring must be CONVEX and wound CCW; the
  // subject may be ANY simple polygon. Everything is transform/zip_with/
  // flatten/aggregate over array<struct<x:double,y:double>>, with the
  // kernel's arithmetic (cross-product side tests, determinant-form line
  // intersection) term for term.

  /** Cyclic edge pairing: (v_1->v_2), ..., (v_n-1 -> v_n), (v_n -> v_1). */
  private def cyclicEdges(ring: Column): Column =
    zip_with(ring,
      concat(slice(ring, lit(2), greatest(size(ring) - 1, lit(0))),
        slice(ring, lit(1), lit(1))),
      (s, p) => struct(s.as("s"), p.as("p")))

  /** Cross of clip edge (e1->e2) with point q; >= 0 means inside for a
    * CCW clip ring. */
  private def side(e1: Column, e2: Column, q: Column): Column =
    (e2("x") - e1("x")) * (q("y") - e1("y")) -
      (e2("y") - e1("y")) * (q("x") - e1("x"))

  /** Intersection of the line through s->p with the line through e1->e2
    * (determinant form); only evaluated when s and p are on strictly
    * different sides of e1->e2, so the denominator is nonzero. */
  private def lineIx(s: Column, p: Column, e1: Column, e2: Column): Column = {
    val n1 = e1("x") * e2("y") - e1("y") * e2("x")
    val n2 = s("x") * p("y") - s("y") * p("x")
    val den = (e1("x") - e2("x")) * (s("y") - p("y")) -
      (e1("y") - e2("y")) * (s("x") - p("x"))
    struct(
      ((n1 * (s("x") - p("x")) - n2 * (e1("x") - e2("x"))) / den).as("x"),
      ((n1 * (s("y") - p("y")) - n2 * (e1("y") - e2("y"))) / den).as("y"))
  }

  /** One S-H step: the part of `poly` on the inner side of e1->e2. */
  private def clipStep(poly: Column, e1: Column, e2: Column): Column = {
    val empty = slice(poly, lit(1), lit(0))
    when(size(poly) < 3, empty).otherwise(
      flatten(transform(cyclicEdges(poly), pr => {
        val s = pr("s")
        val p = pr("p")
        val insS = side(e1, e2, s) >= 0
        val insP = side(e1, e2, p) >= 0
        when(insP && insS, array(p))
          .when(insP && !insS, array(lineIx(s, p, e1, e2), p))
          .when(!insP && insS, array(lineIx(s, p, e1, e2)))
          .otherwise(empty)
      })))
  }

  /** Clip `subject` (any simple polygon) by `clipRing` (CONVEX, CCW):
    * a left fold of clipStep over the clip ring's cyclic edges. */
  def clip(subject: Column, clipRing: Column): Column =
    aggregate(cyclicEdges(clipRing), subject,
      (acc, e) => clipStep(acc, e("s"), e("p")))

  /** Area of a clipped ring (0.0 when degenerate), floor-rounded to 4
    * decimals. */
  def clippedArea(clipped: Column): Column =
    when(size(clipped) < 3, lit(0.0))
      .otherwise(floor(Geom.ringArea(clipped) * 10000.0 + 0.5) / 10000.0)

  /** Signed fan triangles of a simple ring (either orientation):
    * triangle i = (v1, v_i, v_{i+1}) for i in 2..n-1, with s the sign of
    * its doubled signed area. Winding numbers telescope over a fan, so
    * as signed indicator functions `w_ring = sum_i s_i * 1_{T_i}`.
    * Degenerate (collinear) triangles carry s = 0. */
  def fanTriangles(ring: Column): Column =
    transform(sequence(lit(2), size(ring) - 1), i => {
      val a = element_at(ring, 1)
      val b = element_at(ring, i)
      val c = element_at(ring, i + 1)
      val cross = (b("x") - a("x")) * (c("y") - a("y")) -
        (b("y") - a("y")) * (c("x") - a("x"))
      struct(a.as("a"), b.as("b"), c.as("c"),
        when(cross > 0, 1.0).when(cross < 0, -1.0).otherwise(0.0).as("s"))
    })

  /** General-general intersection area in integer MICRO-units:
    * `area(P ∩ Q) = |sum_ij s_i * s_j * area(T_i ∩ T_j)|` over both
    * rings' signed fan triangles, each term rounded to a long before
    * summation (the HOF twin of GeneralClipAreaMicro). */
  def generalIntersectionAreaMicro(subject: Column, clip: Column): Column = {
    val ta = fanTriangles(subject)
    val tb = fanTriangles(clip)
    aggregate(ta, lit(0L), (acc, p) =>
      acc + aggregate(tb, lit(0L), (acc2, q) => {
        // subject triangle in fan order (S-H accepts either orientation);
        // clip triangle re-wound CCW, its sign carried separately
        val subjTri = array(p("a"), p("b"), p("c"))
        val clipTri = when(q("s") < 0, array(q("a"), q("c"), q("b")))
          .otherwise(array(q("a"), q("b"), q("c")))
        val term = p("s") * q("s") * PolygonClipArea(subjTri, clipTri) *
          lit(1000000.0)
        acc2 + when(p("s") === 0.0 || q("s") === 0.0, lit(0L))
          .otherwise(round(term, 0).cast("long"))
      }))
  }

  /** Symmetric "cheap hausdorff": the max of both directed distances,
    * each the max over one line's vertices of the min distance to the
    * other's (reference: fh_dist_lines, core.py:104-131). */
  def hausdorff(li1: Column, li2: Column): Column = {
    def directed(a: Column, b: Column): Column =
      aggregate(a, lit(0.0), (acc, p) =>
        greatest(acc, aggregate(b, lit(Double.MaxValue), (m, q) =>
          least(m, sqrt(pow(p("x") - q("x"), 2) + pow(p("y") - q("y"), 2))))))
    greatest(directed(li1, li2), directed(li2, li1))
  }

  /** Ray-cast point-in-polygon over a ring. Crossing-number parity via
    * aggregate over the ring's segments. */
  def pointInRing(x: Column, y: Column, ring: Column): Column = {
    val closed = when(element_at(ring, 1) === element_at(ring, -1), ring)
      .otherwise(concat(ring, array(element_at(ring, 1))))
    val crossings = aggregate(Geom.segments(closed), lit(0),
      (acc, s) => {
        val x1 = s("p1")("x"); val y1 = s("p1")("y")
        val x2 = s("p2")("x"); val y2 = s("p2")("y")
        val straddles = (y1 > y) =!= (y2 > y)
        val xint = x1 + (y - y1) / (y2 - y1) * (x2 - x1)
        acc + when(straddles && (x < xint), 1).otherwise(0)
      })
    crossings % 2 === 1
  }
}
