package graft.geom

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** General polygon clipping as pure Catalyst higher-order-function
  * expressions.
  *
  * Sutherland–Hodgman (1974): fold the subject polygon's vertex list
  * over the clip polygon's edges; each step keeps the part of the
  * subject on the inner side of one clip edge. The clip ring must be
  * CONVEX and wound counter-clockwise; the subject may be ANY simple
  * polygon. The reference's shapely `intersection` handles arbitrary
  * pairs (gpd_lite_toolbox/utils.py:188-211, core.py:257-282); this
  * covers the arbitrary-subject x convex-clip case — which includes
  * every bbox / grid-cell / convex-zone clip layer — without leaving
  * whole-stage codegen.
  *
  * Everything is transform/zip_with/flatten/aggregate over
  * array<struct<x:double,y:double>>; the arithmetic (cross-product side
  * tests, determinant-form line intersection) is replayed term-for-term
  * by the DuckDB oracles, so clipped areas hash-match bit-for-bit.
  */
object PolyClip {

  /** Cyclic edge pairing: (v_1->v_2), ..., (v_n-1 -> v_n), (v_n -> v_1). */
  private def cyclicEdges(ring: Column): Column =
    zip_with(ring,
      concat(slice(ring, lit(2), greatest(size(ring) - 1, lit(0))),
        slice(ring, lit(1), lit(1))),
      (s, p) => struct(s.as("s"), p.as("p")))

  /** Cross of clip edge (e1->e2) with point q; >= 0 means inside for a
    * CCW clip ring. Exact for integer-valued coordinates. */
  private def side(e1: Column, e2: Column, q: Column): Column =
    (e2("x") - e1("x")) * (q("y") - e1("y")) -
      (e2("y") - e1("y")) * (q("x") - e1("x"))

  /** Intersection of the line through s->p with the line through e1->e2
    * (determinant form). Callers only evaluate it when s and p are on
    * strictly different sides of e1->e2, so the denominator is nonzero. */
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

  /** Area of an already-MATERIALIZED clipped ring (0.0 when degenerate).
    * Floor-rounded to 4 decimals (floor(x*1e4+0.5)/1e4 is pure IEEE
    * arithmetic, so .xxxx5 ties behave identically across engines).
    *
    * Pass an attribute (a `.withColumn` of `clip(...)`), NOT the clip
    * expression itself: this expression references its argument several
    * times (size guard + ring auto-close), and an inlined clip fold
    * would re-evaluate once per reference — the same re-expansion
    * hazard the oracle avoids with MATERIALIZED CTEs. */
  def clippedArea(clipped: Column): Column =
    when(size(clipped) < 3, lit(0.0))
      .otherwise(floor(Geom.ringArea(clipped) * 10000.0 + 0.5) / 10000.0)

  /** Intersection area of subject x a CONCAVE clip polygon given as an
    * array of CONVEX parts with disjoint interiors (the standard
    * decompose-once-reuse path for non-convex zones; any simple polygon
    * admits such a decomposition). Sum of per-part native S-H areas —
    * parts tile the clip polygon, so areas add exactly. Returns the RAW
    * (unrounded) area; round once at the end. */
  def clipAreaConvexParts(subject: Column, parts: Column): Column =
    aggregate(parts, lit(0.0),
      (acc, ring) => acc + PolygonClipArea(subject, ring))

  /** Signed fan triangles of a simple ring (either orientation):
    * triangle i = (v1, v_i, v_{i+1}) for i in 2..n-1, with s the sign of
    * its doubled signed area (cross product). Winding numbers telescope
    * over a fan, so as signed indicator functions
    * `w_ring = sum_i s_i * 1_{T_i}` — the decomposition behind
    * [[generalIntersectionAreaMicro]]. Degenerate (collinear) triangles
    * carry s = 0 and contribute nothing downstream. */
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

  /** TRUE general-general intersection area: BOTH polygons may be
    * CONCAVE simple rings — no caller-side convex pre-decomposition
    * (the reference reaches this case through shapely `intersection`,
    * gpd_lite_toolbox/utils.py:188-211).
    *
    * Identity: with both rings decomposed into signed fan triangles,
    * `area(P ∩ Q) = |sum_ij s_i * s_j * area(T_i ∩ T_j)|` — each
    * triangle-triangle intersection is convex x convex, handled by the
    * native codegen'd S-H expression. Everything is row-local: no extra
    * shuffle beyond whatever pair join feeds it, so the operator scales
    * with the candidate-pair count exactly like the convex paths.
    *
    * Returns the area in integer MICRO-units (1e-6): each of the
    * O(n*m) terms is rounded to a long before summation, which makes
    * the sum independent of accumulation order — the DuckDB oracle can
    * replay it as an unordered SUM over exploded triangle pairs.
    * Callers divide by 1e6 (and take abs) once at the end. */
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
}
