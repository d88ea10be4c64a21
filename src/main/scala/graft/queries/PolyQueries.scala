package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GeoData, Graft}
import graft.geom.PolyClip
import graft.operators.{Dissolve, Rects}

/** General-polygon pairwise operations (the non-rectilinear upgrade of
  * SURVEY.md §2 rows 7/11): Sutherland–Hodgman intersection areas for
  * octagon-x-square pairs, and exact union area for OVERLAPPING box
  * layers (unary_union semantics, reference core.py:276).
  *
  * Both oracles replay the geometry term-for-term: the DuckDB side runs
  * the same S-H fold (one CTE per clip edge) and the same slab-sweep
  * window — identical IEEE arithmetic, so the hash check covers the
  * full algorithm, not just row counts.
  */
object PolyQueries {

  private val Bucket = 10.0

  /** Octagon subject ring (CCW) rebuilt from a bbox: corners cut by a
    * quarter of the side. A non-rectilinear convex polygon whose
    * coordinates stay on exact binary fractions. */
  private def octagon(x0: Column, y0: Column, x1: Column, y1: Column): Column = {
    val c = (x1 - x0) / 4.0
    def pt(x: Column, y: Column) = struct(x.as("x"), y.as("y"))
    array(
      pt(x0 + c, y0), pt(x1 - c, y0), pt(x1, y0 + c), pt(x1, y1 - c),
      pt(x1 - c, y1), pt(x0 + c, y1), pt(x0, y1 - c), pt(x0, y0 + c))
  }

  /** CCW rectangle ring from a bbox. */
  private def rectRing(x0: Column, y0: Column, x1: Column, y1: Column): Column = {
    def pt(x: Column, y: Column) = struct(x.as("x"), y.as("y"))
    array(pt(x0, y0), pt(x1, y0), pt(x1, y1), pt(x0, y1))
  }

  /** Intersection AREA of customer octagons with nation squares: grid
    * candidate join on bboxes (reference-point dedup), then the S-H
    * clip fold on each surviving pair. */
  def qIntersectionAreaPoly(spark: SparkSession, dir: String): DataFrame = {
    val a = GeoData.rectCustomer(spark, dir)
    val b = GeoData.polyNation(spark, dir)
      .select(col("pid").as("rid"), col("x0"), col("y0"), col("x1"), col("y1"))
    val subject = octagon(col("ax0"), col("ay0"), col("ax1"), col("ay1"))
    val clip = rectRing(col("bx0"), col("by0"), col("bx1"), col("by1"))
    // Native codegen'd S-H expression (bit-identical to the specs'
    // lambda fold), floor-rounded to 4 decimals. Cheap enough that the
    // pushed-down filter re-evaluating it is fine — no persist barrier
    // needed.
    val area = floor(Graft.intersectionAreaPoly(subject, clip)
      * 10000.0 + 0.5) / 10000.0
    Rects.intersectPairs(a, b, cellSize = 20.0)
      .withColumn("ix_area", area)
      .filter(col("ix_area") > 0.0)
      .select("ida", "idb", "ix_area")
  }

  /** Intersection AREA of customer octagons with CONCAVE L-shaped nation
    * zones, the L given as two convex parts with disjoint interiors
    * (bottom bar + upper-left column of each nation square): per-part
    * native S-H areas summed by clipAreaConvexParts. */
  def qIntersectionAreaConcave(spark: SparkSession, dir: String): DataFrame = {
    val a = GeoData.rectCustomer(spark, dir)
    val b = GeoData.polyNation(spark, dir)
      .select(col("pid").as("rid"), col("x0"), col("y0"), col("x1"), col("y1"))
    val subject = octagon(col("ax0"), col("ay0"), col("ax1"), col("ay1"))
    val r1 = rectRing(col("bx0"), col("by0"), col("bx1"), col("by0") + 10.0)
    val r2 = rectRing(col("bx0"), col("by0") + 10.0, col("bx0") + 8.0,
      col("by1"))
    val area = floor(PolyClip.clipAreaConvexParts(subject, array(r1, r2))
      * 10000.0 + 0.5) / 10000.0
    Rects.intersectPairs(a, b, cellSize = 20.0)
      .withColumn("ix_area", area)
      .filter(col("ix_area") > 0.0)
      .select("ida", "idb", "ix_area")
  }

  /** TRUE general-general intersection: a CONCAVE subject (pentagon with
    * a deep notch — its middle fan triangle has NEGATIVE sign) clipped by
    * a CONCAVE L-shaped zone given as ONE ring (fanned from its second
    * vertex so one clip triangle is negative too). No caller-side convex
    * decomposition: GeneralClipAreaMicro fan-triangulates both rings and
    * sums signed triangle-pair S-H areas row-locally. */
  def qIntersectionAreaGeneral(spark: SparkSession, dir: String): DataFrame = {
    val a = GeoData.rectCustomer(spark, dir)
    val b = GeoData.polyNation(spark, dir)
      .select(col("pid").as("rid"), col("x0"), col("y0"), col("x1"), col("y1"))
    def pt(x: Column, y: Column) = struct(x.as("x"), y.as("y"))
    // notched pentagon (CCW, concave at v4): notch dips to 1/4 height
    val midX = (col("ax0") + col("ax1")) / 2.0
    val notchY = col("ay0") + (col("ay1") - col("ay0")) * 0.25
    val subject = array(
      pt(col("ax0"), col("ay0")), pt(col("ax1"), col("ay0")),
      pt(col("ax1"), col("ay1")), pt(midX, notchY),
      pt(col("ax0"), col("ay1")))
    // L-shaped nation zone as ONE CCW ring, starting at the bottom-RIGHT
    // corner so the fan from v1 produces a negative triangle
    val clip = array(
      pt(col("bx1"), col("by0")), pt(col("bx1"), col("by0") + 10.0),
      pt(col("bx0") + 8.0, col("by0") + 10.0),
      pt(col("bx0") + 8.0, col("by1")),
      pt(col("bx0"), col("by1")), pt(col("bx0"), col("by0")))
    // native codegen'd signed-fan expression (bit-equal to the specs'
    // HOF twin); cheap enough that the pushed-down
    // ix_area filter re-evaluating it is fine
    val micro = graft.geom.GeneralClipAreaMicro(subject, clip)
    Rects.intersectPairs(a, b, cellSize = 20.0)
      .withColumn("ix_area",
        floor(abs(micro) / 1000000.0 * 10000.0 + lit(0.5)) / 10000.0)
      .filter(col("ix_area") > 0.0)
      .select("ida", "idb", "ix_area")
  }

  /** Intersection GEOMETRY, not just area: the clipped ring's vertices
    * (octagon subject x nation-square clip), one row per vertex in ring
    * order — shapely-`intersection`-returns-a-polygon parity. The clip
    * runs in the native PolygonClipRing kernel (bit-equal to the specs'
    * HOF clip fold; the fold is interpreted
    * CodegenFallback and cost 7.1 s here at sf0.1), materialized once
    * per pair via withColumn, vertices explode from it, coordinates
    * round to 4. */
  def qClipRings(spark: SparkSession, dir: String): DataFrame = {
    val a = GeoData.rectCustomer(spark, dir)
    val b = GeoData.polyNation(spark, dir)
      .select(col("pid").as("rid"), col("x0"), col("y0"), col("x1"), col("y1"))
    val subject = octagon(col("ax0"), col("ay0"), col("ax1"), col("ay1"))
    val clip = rectRing(col("bx0"), col("by0"), col("bx1"), col("by1"))
    Rects.intersectPairs(a, b, cellSize = 20.0)
      .withColumn("ring", graft.geom.PolygonClipRing(subject, clip))
      .filter(size(col("ring")) >= 3)
      .select(col("ida"), col("idb"),
        posexplode(col("ring")).as(Seq("vi", "v")))
      .select(col("ida"), col("idb"), col("vi").cast("int").as("vi"),
        // + 0.0 collapses IEEE negative zero (DuckDB's ROUND preserves
        // -0.0, Spark's does not; -0.0 + 0.0 = +0.0 in both)
        (round(col("v.x"), 4) + 0.0).as("x"),
        (round(col("v.y"), 4) + 0.0).as("y"))
  }

  /** Overlap-safe dissolve: exact union area per group of (heavily
    * overlapping) customer rectangles, grouped by rid % 40. */
  def qDissolveOverlap(spark: SparkSession, dir: String): DataFrame =
    Graft.dissolveOverlapping(
      GeoData.rectCustomer(spark, dir)
        .withColumn("gid", col("rid") % 40),
      bucket = Bucket)

  /** Merged ring GEOMETRY of the overlap union — the shapely
    * unary_union (Multi)Polygon for overlapping parts, as walked ring
    * vertices. gid is finer than q_dissolve_overlap's (% 200 vs % 40):
    * the ring construction's per-group grid is quadratic in group
    * complexity, and the finer key keeps every group's grid bounded
    * while still exercising heavy overlap (the operator itself is
    * group-size-agnostic). */
  def qDissolveUnionRings(spark: SparkSession, dir: String): DataFrame =
    Dissolve.dissolveUnionRings(
      GeoData.rectCustomer(spark, dir)
        .withColumn("gid", col("rid") % 200),
      bucket = Bucket)

  /** CONCAVE x CONCAVE intersection RING output (r14, VERDICT r13 item
    * 7) — row 7 computes the general intersection AREA via signed fans
    * and q_clip_rings emits vertices only for convex clips; this row
    * returns the GEOMETRY of a concave∩concave intersection, including
    * the cases a single S-H ring can never express: DISCONNECTED
    * components (the U's two prongs crossing the L's column) and
    * grid-exact holes. Method = the dissolveUnionRings ring assembly
    * extended to the pairwise case: both planted shapes are
    * RECTILINEAR concave (U-shaped customer: bottom bar + two prongs;
    * L-shaped nation zone: bar + column — the same L as row 7), so
    * each pair's intersection region is EXACTLY the union of the ≤6
    * pairwise box intersections (box ∩ box = box), and that union
    * feeds the coordinate-compression → covered-cell edge cancellation
    * → rightmost-turn ring walk verbatim, keyed by the PAIR
    * (gid = ida*100 + idb; nation pid < 100). Exactness is the
    * rectilinear cell property — non-rectilinear concave×concave rings
    * would need a full Weiler–Atherton tracer and stay documented as
    * the area-only path of row 7. Scale: per-pair grids are bounded by
    * the two shapes' complexity (≤6 boxes → ≤ 7×7 grid), pairs come
    * from the same bucketed candidate join as every rect row — never
    * all-pairs, no per-group state beyond one pair's edge set. */
  def qClipRingsGeneral(spark: SparkSession, dir: String): DataFrame = {
    val a = GeoData.rectCustomer(spark, dir)
    val b = GeoData.polyNation(spark, dir)
      .select(col("pid").as("rid"), col("x0"), col("y0"), col("x1"), col("y1"))
    // exact binary fractions, expression trees mirrored by the oracle
    val uMidY = col("ay0") + (col("ay1") - col("ay0")) / 2.0
    val uQw = (col("ax1") - col("ax0")) / 4.0
    def box(x0: Column, y0: Column, x1: Column, y1: Column): Column =
      struct(x0.as("x0"), y0.as("y0"), x1.as("x1"), y1.as("y1"))
    val uBoxes = Seq(
      box(col("ax0"), col("ay0"), col("ax1"), uMidY),
      box(col("ax0"), uMidY, col("ax0") + uQw, col("ay1")),
      box(col("ax1") - uQw, uMidY, col("ax1"), col("ay1")))
    val lBoxes = Seq(
      box(col("bx0"), col("by0"), col("bx1"), col("by0") + 10.0),
      box(col("bx0"), col("by0") + 10.0, col("bx0") + 8.0, col("by1")))
    def ib(u: Column, l: Column): Column = struct(
      greatest(u.getField("x0"), l.getField("x0")).as("x0"),
      greatest(u.getField("y0"), l.getField("y0")).as("y0"),
      least(u.getField("x1"), l.getField("x1")).as("x1"),
      least(u.getField("y1"), l.getField("y1")).as("y1"))
    val cand = for { u <- uBoxes; l <- lBoxes } yield ib(u, l)
    val boxes = Rects.intersectPairs(a, b, cellSize = 20.0)
      .select((col("ida") * 100 + col("idb")).as("gid"),
        explode(array(cand: _*)).as("bx"))
      .filter(col("bx.x0") < col("bx.x1") && col("bx.y0") < col("bx.y1"))
      .select(col("gid"), col("bx.x0").as("x0"), col("bx.y0").as("y0"),
        col("bx.x1").as("x1"), col("bx.y1").as("y1"))
    Dissolve.dissolveUnionRings(boxes, bucket = Bucket)
      .select(expr("gid div 100").as("ida"),
        expr("gid % 100").as("idb"),
        col("ring"), col("vi"), col("x"), col("y"))
  }

  /** ARBITRARY concave x concave intersection RINGS (r15, VERDICT r14
    * item 2 — the last reference-semantics gap): true ring GEOMETRY for
    * NON-rectilinear concave pairs, where r14's q_clip_rings_general
    * could only serve rectilinear strata and row 7's general path was
    * area-only. Subject = the notched CONCAVE pentagon of
    * q_intersection_area_general — and, on the (ida+idb)%2=0 stratum,
    * the same pentagon with a square HOLE punched in its lower-left
    * (so output rings include CW hole rings); clip = the same concave
    * L. Not Weiler-Atherton (WA needs general position; gridded data
    * has vertex-on-edge and collinear-overlap incidences): the
    * geom.GeneralIntersectRings kernel runs an exact-rational vertical
    * slab decomposition on x20 integer-SCALED coordinates — every
    * vertex a canonical small rational, so the DuckDB oracle replays
    * the construction bit-for-bit in BIGINT arithmetic. Scaled ints are
    * rebuilt from the KEYS (ida/idb), not by multiplying the double
    * bboxes (x20 of a 0.05-grid double can land off-by-one-ulp off the
    * integer); output descales by /20 — one exact-inputs division,
    * identical in both engines. Scale: same contract as every rect
    * row — bucketed candidate bbox join, then a row-local per-pair
    * kernel; never all-pairs, no per-group state. */
  def qClipRingsArbitrary(spark: SparkSession, dir: String): DataFrame = {
    val a = GeoData.rectCustomer(spark, dir)
    val b = GeoData.polyNation(spark, dir)
      .select(col("pid").as("rid"), col("x0"), col("y0"), col("x1"), col("y1"))
    val pairs = Rects.intersectPairs(a, b, cellSize = 20.0)
    // scaled integer geometry from the keys (see scaladoc)
    val cx = (col("ida") * 131 % 1000) * 2
    val cy = (col("ida") * 313 % 1000) * 2
    val m = col("ida") % 10 + 1
    val h = m * 10
    val (sax0, say0, sax1, say1) = (cx - h, cy - h, cx + h, cy + h)
    val mid = cx
    val notch = cy - h + m * 5
    val sbx0 = (col("idb") % 5) * 400
    val sby0 = floor(col("idb") / 5).cast("long") * 400
    val (sbx1, sby1) = (sbx0 + 400, sby0 + 400)
    def ringEdges(pts: Seq[(Column, Column)]): Seq[Column] =
      pts.indices.map { i =>
        val (x0, y0) = pts(i)
        val (x1, y1) = pts((i + 1) % pts.length)
        struct(x0.cast("double").as("x0"), y0.cast("double").as("y0"),
          x1.cast("double").as("x1"), y1.cast("double").as("y1"))
      }
    val pent = ringEdges(Seq(
      (sax0, say0), (sax1, say0), (sax1, say1), (mid, notch), (sax0, say1)))
    val hole = ringEdges(Seq(
      (sax0 + m * 4, say0 + m), (sax0 + m * 8, say0 + m),
      (sax0 + m * 8, say0 + m * 4), (sax0 + m * 4, say0 + m * 4)))
    val ell = ringEdges(Seq(
      (sbx1, sby0), (sbx1, sby0 + 200), (sbx0 + 160, sby0 + 200),
      (sbx0 + 160, sby1), (sbx0, sby1), (sbx0, sby0)))
    val subject = when((col("ida") + col("idb")) % 2 === 0,
      array(pent ++ hole: _*)).otherwise(array(pent: _*))
    pairs
      .withColumn("rings",
        graft.geom.GeneralIntersectRings(subject, array(ell: _*)))
      .filter(size(col("rings")) > 0)
      .select(col("ida"), col("idb"), explode(col("rings")).as("v"))
      .select(col("ida"), col("idb"), col("v.ring").as("ring"),
        col("v.vi").as("vi"),
        (col("v.x") / 20.0).as("x"), (col("v.y") / 20.0).as("y"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_clip_rings_arbitrary" -> (qClipRingsArbitrary _),
    "q_clip_rings_general" -> (qClipRingsGeneral _),
    "q_intersection_area_poly" -> (qIntersectionAreaPoly _),
    "q_intersection_area_concave" -> (qIntersectionAreaConcave _),
    "q_intersection_area_general" -> (qIntersectionAreaGeneral _),
    "q_clip_rings" -> (qClipRings _),
    "q_dissolve_overlap" -> (qDissolveOverlap _),
    "q_dissolve_union_rings" -> (qDissolveUnionRings _))

  // ---------------------------------------------------------------- oracles

  /** One DuckDB S-H clip step against the directed clip edge
    * (e1x,e1y)->(e2x,e2y): the exact SQL twin of
    * SutherlandHodgman.step. */
  private def shStepSql(poly: String, e1x: String, e1y: String,
                        e2x: String, e2y: String): String = {
    val n = s"len($poly)"
    val sPt = s"$poly[i]"
    val pPt = s"$poly[1 + i % $n]"
    def sideOf(q: String) =
      s"(($e2x) - ($e1x)) * ($q.y - ($e1y)) - (($e2y) - ($e1y)) * ($q.x - ($e1x))"
    val insS = s"${sideOf(sPt)} >= 0"
    val insP = s"${sideOf(pPt)} >= 0"
    val n1 = s"(($e1x) * ($e2y) - ($e1y) * ($e2x))"
    val n2 = s"($sPt.x * $pPt.y - $sPt.y * $pPt.x)"
    val den = s"((($e1x) - ($e2x)) * ($sPt.y - $pPt.y) - (($e1y) - ($e2y)) * ($sPt.x - $pPt.x))"
    val ix = s"{'x': ($n1 * ($sPt.x - $pPt.x) - $n2 * (($e1x) - ($e2x))) / $den, " +
      s"'y': ($n1 * ($sPt.y - $pPt.y) - $n2 * (($e1y) - ($e2y))) / $den}"
    s"""CASE WHEN $n < 3 THEN $poly[2:1] ELSE
       |  flatten(list_transform(range(1, $n + 1), i ->
       |    CASE WHEN ($insP) AND ($insS) THEN [$pPt]
       |         WHEN ($insP) AND NOT ($insS) THEN [$ix, $pPt]
       |         WHEN NOT ($insP) AND ($insS) THEN [$ix]
       |         ELSE $poly[2:1] END)) END""".stripMargin
  }

  /** Shared WITH-prefix: candidate pairs, octagon subject, and the four
    * MATERIALIZED S-H steps against the nation square — ends at CTE
    * `s4` holding the clipped ring. Used by the area AND the ring-
    * vertex oracles. */
  private val octSquareClipCtes: String = {
    // octagon literal from the a-side bbox, CCW, same order as octagon()
    val oct = {
      def pt(x: String, y: String) = s"{'x': $x, 'y': $y}"
      val c = "((ax1 - ax0) / 4.0)"
      Seq(
        pt(s"ax0 + $c", "ay0"), pt(s"ax1 - $c", "ay0"),
        pt("ax1", s"ay0 + $c"), pt("ax1", s"ay1 - $c"),
        pt(s"ax1 - $c", "ay1"), pt(s"ax0 + $c", "ay1"),
        pt("ax0", s"ay1 - $c"), pt("ax0", s"ay0 + $c")).mkString("[", ", ", "]")
    }
    // clip square edges CCW, same order as rectRing's cyclic edges
    val steps = Seq(
      ("bx0", "by0", "bx1", "by0"),
      ("bx1", "by0", "bx1", "by1"),
      ("bx1", "by1", "bx0", "by1"),
      ("bx0", "by1", "bx0", "by0"))
      .zipWithIndex.map { case ((x1s, y1s, x2s, y2s), i) =>
        // MATERIALIZED is load-bearing: each step references `poly`
        // ~20 times, and DuckDB inlines plain CTEs — four chained
        // steps would otherwise expand to a 20^4-node expression tree
        s"""s${i + 1} AS MATERIALIZED (SELECT ida, idb, bx0, by0, bx1, by1,
           |  ${shStepSql("poly", x1s, y1s, x2s, y2s)} AS poly FROM s$i)"""
          .stripMargin
      }.mkString(",\n")
    s"""WITH a AS (${GeoData.rectCustomerSql}),
       |b AS (${GeoData.polyNationSql}),
       |pairs AS (
       |  SELECT a.rid AS ida, b.pid AS idb,
       |    a.x0 AS ax0, a.y0 AS ay0, a.x1 AS ax1, a.y1 AS ay1,
       |    b.x0 AS bx0, b.y0 AS by0, b.x1 AS bx1, b.y1 AS by1
       |  FROM a JOIN b ON a.x0 <= b.x1 AND b.x0 <= a.x1
       |                AND a.y0 <= b.y1 AND b.y0 <= a.y1),
       |s0 AS MATERIALIZED (SELECT ida, idb, bx0, by0, bx1, by1, $oct AS poly
       |      FROM pairs),
       |$steps""".stripMargin
  }

  private val intersectionAreaOracle: String = {
    s"""$octSquareClipCtes,
       |areas AS (
       |  SELECT ida, idb,
       |    CASE WHEN len(poly) < 3 THEN 0.0
       |         ELSE FLOOR(ABS(list_sum(list_transform(range(1, len(poly) + 1),
       |                i -> poly[i].x * poly[1 + i % len(poly)].y
       |                   - poly[1 + i % len(poly)].x * poly[i].y))) / 2.0
       |              * 10000.0 + 0.5) / 10000.0 END AS ix_area
       |  FROM s4)
       |SELECT ida, idb, ix_area FROM areas WHERE ix_area > 0.0""".stripMargin
  }

  /** DuckDB twin of the ring-vertex emission: the same s4 clipped ring,
    * unnested in ring order (vi is 0-based to match posexplode). */
  private val clipRingsOracle: String =
    s"""$octSquareClipCtes
       |SELECT ida, idb, CAST(i - 1 AS INT) AS vi,
       |  ROUND(poly[i].x, 4) + 0.0 AS x, ROUND(poly[i].y, 4) + 0.0 AS y
       |FROM s4, LATERAL (SELECT unnest(generate_series(1, len(poly))) AS i) u
       |WHERE len(poly) >= 3""".stripMargin

  /** DuckDB twin of the concave (two-convex-part) clip: two S-H chains
    * run in parallel columns (poly1 vs the bottom bar, poly2 vs the
    * upper-left column), raw areas summed before the single floor-round
    * — mirroring clipAreaConvexParts' fold order (0 + a1 + a2). */
  private val intersectionAreaConcaveOracle: String = {
    val oct = {
      def pt(x: String, y: String) = s"{'x': $x, 'y': $y}"
      val c = "((ax1 - ax0) / 4.0)"
      Seq(
        pt(s"ax0 + $c", "ay0"), pt(s"ax1 - $c", "ay0"),
        pt("ax1", s"ay0 + $c"), pt("ax1", s"ay1 - $c"),
        pt(s"ax1 - $c", "ay1"), pt(s"ax0 + $c", "ay1"),
        pt("ax0", s"ay1 - $c"), pt("ax0", s"ay0 + $c")).mkString("[", ", ", "]")
    }
    // CCW corners of the two convex parts; edge k = corner k -> k+1
    val c1 = Seq(("bx0", "by0"), ("bx1", "by0"),
      ("bx1", "by0 + 10.0"), ("bx0", "by0 + 10.0"))
    val c2 = Seq(("bx0", "by0 + 10.0"), ("bx0 + 8.0", "by0 + 10.0"),
      ("bx0 + 8.0", "by1"), ("bx0", "by1"))
    val steps = (0 until 4).map { k =>
      val (e1x1, e1y1) = c1(k); val (e2x1, e2y1) = c1((k + 1) % 4)
      val (e1x2, e1y2) = c2(k); val (e2x2, e2y2) = c2((k + 1) % 4)
      s"""s${k + 1} AS MATERIALIZED (SELECT ida, idb, bx0, by0, bx1, by1,
         |  ${shStepSql("poly1", e1x1, e1y1, e2x1, e2y1)} AS poly1,
         |  ${shStepSql("poly2", e1x2, e1y2, e2x2, e2y2)} AS poly2
         |  FROM s$k)""".stripMargin
    }.mkString(",\n")
    def raw(p: String) =
      s"""CASE WHEN len($p) < 3 THEN 0.0
         |     ELSE ABS(list_sum(list_transform(range(1, len($p) + 1),
         |            i -> $p[i].x * $p[1 + i % len($p)].y
         |               - $p[1 + i % len($p)].x * $p[i].y))) / 2.0 END"""
        .stripMargin
    s"""WITH a AS (${GeoData.rectCustomerSql}),
       |b AS (${GeoData.polyNationSql}),
       |pairs AS (
       |  SELECT a.rid AS ida, b.pid AS idb,
       |    a.x0 AS ax0, a.y0 AS ay0, a.x1 AS ax1, a.y1 AS ay1,
       |    b.x0 AS bx0, b.y0 AS by0, b.x1 AS bx1, b.y1 AS by1
       |  FROM a JOIN b ON a.x0 <= b.x1 AND b.x0 <= a.x1
       |                AND a.y0 <= b.y1 AND b.y0 <= a.y1),
       |s0 AS MATERIALIZED (SELECT ida, idb, bx0, by0, bx1, by1,
       |      $oct AS poly1, $oct AS poly2 FROM pairs),
       |$steps,
       |areas AS (
       |  SELECT ida, idb,
       |    FLOOR((0.0 + ${raw("poly1")} + ${raw("poly2")})
       |          * 10000.0 + 0.5) / 10000.0 AS ix_area
       |  FROM s4)
       |SELECT ida, idb, ix_area FROM areas WHERE ix_area > 0.0""".stripMargin
  }

  /** DuckDB twin of the general-general signed-fan clip: triangle pairs
    * exploded into rows (3 subject-fan x 4 clip-fan triangles per
    * candidate pair), corner coordinates by CASE over the fan index, the
    * same 3 S-H steps against the CCW-rewound clip triangle, each term
    * rounded to integer micro-units before the unordered SUM — exactly
    * the arithmetic of generalIntersectionAreaMicro, so it hash-matches
    * bit-for-bit. */
  private val intersectionAreaGeneralOracle: String = {
    // subject pentagon fan from v1=(ax0,ay0): (v1,v2,v3),(v1,v3,v4),(v1,v4,v5)
    val midX = "(ax0 + ax1) / 2.0"
    val notchY = "ay0 + (ay1 - ay0) * 0.25"
    val sbx = s"CASE ti WHEN 1 THEN ax1 WHEN 2 THEN ax1 ELSE $midX END"
    val sby = s"CASE ti WHEN 1 THEN ay0 WHEN 2 THEN ay1 ELSE $notchY END"
    val scx = s"CASE ti WHEN 1 THEN ax1 WHEN 2 THEN $midX ELSE ax0 END"
    val scy = s"CASE ti WHEN 1 THEN ay1 WHEN 2 THEN $notchY ELSE ay1 END"
    // clip L ring [c2,c3,c4,c5,c6,c1] fanned from c2=(bx1,by0)
    val tbx = "CASE tj WHEN 1 THEN bx1 WHEN 2 THEN bx0 + 8.0 " +
      "WHEN 3 THEN bx0 + 8.0 ELSE bx0 END"
    val tby = "CASE tj WHEN 1 THEN by0 + 10.0 WHEN 2 THEN by0 + 10.0 " +
      "WHEN 3 THEN by1 ELSE by1 END"
    val tcx = "CASE tj WHEN 1 THEN bx0 + 8.0 WHEN 2 THEN bx0 + 8.0 " +
      "WHEN 3 THEN bx0 ELSE bx0 END"
    val tcy = "CASE tj WHEN 1 THEN by0 + 10.0 WHEN 2 THEN by1 " +
      "WHEN 3 THEN by1 ELSE by0 END"
    // fanTriangles' cross products, verbatim
    val cra = "(sbx - ax0) * (scy - ay0) - (sby - ay0) * (scx - ax0)"
    val crb = "(tbx - bx1) * (tcy - by0) - (tby - by0) * (tcx - bx1)"
    def sgn(cr: String) =
      s"CASE WHEN $cr > 0 THEN 1.0 WHEN $cr < 0 THEN -1.0 ELSE 0.0 END"
    val steps = Seq(
      ("o1x", "o1y", "o2x", "o2y"),
      ("o2x", "o2y", "o3x", "o3y"),
      ("o3x", "o3y", "o1x", "o1y"))
      .zipWithIndex.map { case ((x1s, y1s, x2s, y2s), i) =>
        s"""s${i + 1} AS MATERIALIZED (SELECT ida, idb, sa, sb,
           |  o1x, o1y, o2x, o2y, o3x, o3y,
           |  ${shStepSql("poly", x1s, y1s, x2s, y2s)} AS poly FROM s$i)"""
          .stripMargin
      }.mkString(",\n")
    val rawArea =
      """CASE WHEN len(poly) < 3 THEN 0.0
        |     ELSE ABS(list_sum(list_transform(range(1, len(poly) + 1),
        |            i -> poly[i].x * poly[1 + i % len(poly)].y
        |               - poly[1 + i % len(poly)].x * poly[i].y))) / 2.0 END"""
        .stripMargin
    s"""WITH a AS (${GeoData.rectCustomerSql}),
       |b AS (${GeoData.polyNationSql}),
       |pairs AS (
       |  SELECT a.rid AS ida, b.pid AS idb,
       |    a.x0 AS ax0, a.y0 AS ay0, a.x1 AS ax1, a.y1 AS ay1,
       |    b.x0 AS bx0, b.y0 AS by0, b.x1 AS bx1, b.y1 AS by1
       |  FROM a JOIN b ON a.x0 <= b.x1 AND b.x0 <= a.x1
       |                AND a.y0 <= b.y1 AND b.y0 <= a.y1),
       |tp AS MATERIALIZED (
       |  SELECT p.*, $sbx AS sbx, $sby AS sby, $scx AS scx, $scy AS scy,
       |         $tbx AS tbx, $tby AS tby, $tcx AS tcx, $tcy AS tcy
       |  FROM pairs p,
       |       (SELECT unnest([1, 2, 3]) AS ti),
       |       (SELECT unnest([1, 2, 3, 4]) AS tj)),
       |tq AS MATERIALIZED (
       |  SELECT ida, idb, ${sgn(cra)} AS sa, ${sgn(crb)} AS sb,
       |    bx1 AS o1x, by0 AS o1y,
       |    CASE WHEN ${sgn(crb)} < 0 THEN tcx ELSE tbx END AS o2x,
       |    CASE WHEN ${sgn(crb)} < 0 THEN tcy ELSE tby END AS o2y,
       |    CASE WHEN ${sgn(crb)} < 0 THEN tbx ELSE tcx END AS o3x,
       |    CASE WHEN ${sgn(crb)} < 0 THEN tby ELSE tcy END AS o3y,
       |    [{'x': ax0, 'y': ay0}, {'x': sbx, 'y': sby},
       |     {'x': scx, 'y': scy}] AS poly
       |  FROM tp),
       |s0 AS MATERIALIZED (SELECT ida, idb, sa, sb,
       |  o1x, o1y, o2x, o2y, o3x, o3y, poly FROM tq),
       |$steps,
       |terms AS (
       |  SELECT ida, idb,
       |    CASE WHEN sa = 0.0 OR sb = 0.0 THEN CAST(0 AS BIGINT)
       |         ELSE CAST(ROUND(sa * sb * ($rawArea) * 1000000.0, 0)
       |                   AS BIGINT) END AS term
       |  FROM s3),
       |sums AS (
       |  SELECT ida, idb, CAST(SUM(term) AS BIGINT) AS micro
       |  FROM terms GROUP BY ida, idb),
       |areas AS (
       |  SELECT ida, idb,
       |    FLOOR(ABS(micro) / 1000000.0 * 10000.0 + 0.5) / 10000.0 AS ix_area
       |  FROM sums)
       |SELECT ida, idb, ix_area FROM areas WHERE ix_area > 0.0""".stripMargin
  }

  private val dissolveOverlapOracle: String =
    s"""WITH r0 AS (${GeoData.rectCustomerSql}),
       |r AS (SELECT rid % 40 AS gid, x0, y0, x1, y1 FROM r0),
       |xs AS (SELECT DISTINCT gid, x FROM (
       |         SELECT gid, x0 AS x FROM r
       |         UNION ALL SELECT gid, x1 FROM r)),
       |slabs AS (SELECT gid, x,
       |            LEAD(x) OVER (PARTITION BY gid ORDER BY x) AS xr
       |          FROM xs),
       |sv AS (SELECT s.gid, s.x, s.xr, r.y0, r.y1
       |       FROM slabs s JOIN r ON r.gid = s.gid
       |        AND r.x0 <= s.x AND s.xr <= r.x1
       |       WHERE s.xr IS NOT NULL),
       |c AS (SELECT gid, x, xr, y0, y1,
       |        MAX(y1) OVER (PARTITION BY gid, x ORDER BY y0, y1
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
       |      FROM sv),
       |t AS (SELECT gid, (xr - x) * GREATEST(0.0,
       |        y1 - GREATEST(y0, COALESCE(pm, y0))) AS term FROM c),
       |u AS (SELECT gid,
       |        ROUND(SUM(CAST(ROUND(term * 100.0, 0) AS BIGINT)) / 100.0, 2)
       |          AS union_area
       |      FROM t GROUP BY gid),
       |p AS (SELECT gid, COUNT(*) AS n_parts,
       |        ROUND(SUM(CAST(ROUND((x1 - x0) * (y1 - y0) * 100.0, 0)
       |          AS BIGINT)) / 100.0, 2) AS sum_area
       |      FROM r GROUP BY gid)
       |SELECT p.gid, p.n_parts, p.sum_area,
       |  COALESCE(u.union_area, 0.0) AS union_area
       |FROM p LEFT JOIN u ON u.gid = p.gid""".stripMargin

  /** Overlap-union rings: covered-cell edge derivation (coordinate
    * compression + cover test + cancellation) feeding the SAME
    * recursive ring walk as q_dissolve_rings. */
  private lazy val dissolveUnionRingsOracle: String =
    GeoQueries.ringWalkOracle(
      s"""r0 AS (${GeoData.rectCustomerSql}),
         |r AS (SELECT rid % 200 AS gid, x0, y0, x1, y1 FROM r0),
         |xs AS (SELECT DISTINCT gid, x FROM (
         |         SELECT gid, x0 AS x FROM r
         |         UNION ALL SELECT gid, x1 FROM r)),
         |slabs AS (SELECT gid, x,
         |            LEAD(x) OVER (PARTITION BY gid ORDER BY x) AS xr
         |          FROM xs),
         |ys AS (SELECT DISTINCT gid, y FROM (
         |         SELECT gid, y0 AS y FROM r
         |         UNION ALL SELECT gid, y1 FROM r)),
         |yslabs AS (SELECT gid, y,
         |             LEAD(y) OVER (PARTITION BY gid ORDER BY y) AS yr
         |           FROM ys),
         |cov AS (SELECT DISTINCT c.gid, c.x, c.xr, c.y, c.yr
         |        FROM (SELECT s.gid, s.x, s.xr, t.y, t.yr
         |              FROM slabs s JOIN yslabs t ON t.gid = s.gid
         |              WHERE s.xr IS NOT NULL AND t.yr IS NOT NULL) c
         |        JOIN r ON r.gid = c.gid
         |          AND r.x0 <= c.x AND c.xr <= r.x1
         |          AND r.y0 <= c.y AND c.yr <= r.y1),
         |edges0 AS (
         |  SELECT gid AS rkey, UNNEST([
         |    {'ex0': x, 'ey0': y, 'ex1': xr, 'ey1': y},
         |    {'ex0': x, 'ey0': yr, 'ex1': xr, 'ey1': yr},
         |    {'ex0': x, 'ey0': y, 'ex1': x, 'ey1': yr},
         |    {'ex0': xr, 'ey0': y, 'ex1': xr, 'ey1': yr}]) AS e
         |  FROM cov),
         |uniq AS (SELECT rkey, e FROM edges0
         |         GROUP BY rkey, e HAVING COUNT(*) = 1)""".stripMargin,
      "gid")

  /** Pairwise concave∩concave rings: per-pair U/L box decomposition,
    * box-pair intersections, then the SAME covered-cell edge chain and
    * recursive ring walk as the union-rings oracle, keyed by the
    * packed pair id. */
  private lazy val clipRingsGeneralOracle: String = {
    val uMidY = "ay0 + (ay1 - ay0) / 2.0"
    val uQw = "(ax1 - ax0) / 4.0"
    val ux0 = s"CASE ui WHEN 1 THEN ax0 WHEN 2 THEN ax0 ELSE ax1 - ($uQw) END"
    val uy0 = s"CASE ui WHEN 1 THEN ay0 ELSE $uMidY END"
    val ux1 = s"CASE ui WHEN 1 THEN ax1 WHEN 2 THEN ax0 + ($uQw) ELSE ax1 END"
    val uy1 = s"CASE ui WHEN 1 THEN $uMidY ELSE ay1 END"
    val lx0 = "bx0"
    val ly0 = "CASE li WHEN 1 THEN by0 ELSE by0 + 10.0 END"
    val lx1 = "CASE li WHEN 1 THEN bx1 ELSE bx0 + 8.0 END"
    val ly1 = "CASE li WHEN 1 THEN by0 + 10.0 ELSE by1 END"
    val prefix =
      s"""aa AS (${GeoData.rectCustomerSql}),
         |bb AS (${GeoData.polyNationSql}),
         |pairs AS (
         |  SELECT aa.rid AS ida, bb.pid AS idb,
         |    aa.x0 AS ax0, aa.y0 AS ay0, aa.x1 AS ax1, aa.y1 AS ay1,
         |    bb.x0 AS bx0, bb.y0 AS by0, bb.x1 AS bx1, bb.y1 AS by1
         |  FROM aa JOIN bb ON aa.x0 <= bb.x1 AND bb.x0 <= aa.x1
         |                 AND aa.y0 <= bb.y1 AND bb.y0 <= aa.y1),
         |ib AS (
         |  SELECT ida * 100 + idb AS gid,
         |    GREATEST($ux0, $lx0) AS x0, GREATEST($uy0, $ly0) AS y0,
         |    LEAST($ux1, $lx1) AS x1, LEAST($uy1, $ly1) AS y1
         |  FROM pairs,
         |    (SELECT unnest([1, 2, 3]) AS ui),
         |    (SELECT unnest([1, 2]) AS li)),
         |r AS (SELECT gid, x0, y0, x1, y1 FROM ib
         |      WHERE x0 < x1 AND y0 < y1),
         |xs AS (SELECT DISTINCT gid, x FROM (
         |         SELECT gid, x0 AS x FROM r
         |         UNION ALL SELECT gid, x1 FROM r)),
         |slabs AS (SELECT gid, x,
         |            LEAD(x) OVER (PARTITION BY gid ORDER BY x) AS xr
         |          FROM xs),
         |ys AS (SELECT DISTINCT gid, y FROM (
         |         SELECT gid, y0 AS y FROM r
         |         UNION ALL SELECT gid, y1 FROM r)),
         |yslabs AS (SELECT gid, y,
         |             LEAD(y) OVER (PARTITION BY gid ORDER BY y) AS yr
         |           FROM ys),
         |cov AS (SELECT DISTINCT c.gid, c.x, c.xr, c.y, c.yr
         |        FROM (SELECT s.gid, s.x, s.xr, t.y, t.yr
         |              FROM slabs s JOIN yslabs t ON t.gid = s.gid
         |              WHERE s.xr IS NOT NULL AND t.yr IS NOT NULL) c
         |        JOIN r ON r.gid = c.gid
         |          AND r.x0 <= c.x AND c.xr <= r.x1
         |          AND r.y0 <= c.y AND c.yr <= r.y1),
         |edges0 AS (
         |  SELECT gid AS rkey, UNNEST([
         |    {'ex0': x, 'ey0': y, 'ex1': xr, 'ey1': y},
         |    {'ex0': x, 'ey0': yr, 'ex1': xr, 'ey1': yr},
         |    {'ex0': x, 'ey0': y, 'ex1': x, 'ey1': yr},
         |    {'ex0': xr, 'ey0': y, 'ex1': xr, 'ey1': yr}]) AS e
         |  FROM cov),
         |uniq AS (SELECT rkey, e FROM edges0
         |         GROUP BY rkey, e HAVING COUNT(*) = 1)""".stripMargin
    s"""SELECT CAST(gid // 100 AS BIGINT) AS ida,
       |  CAST(gid % 100 AS BIGINT) AS idb, ring, vi, x, y
       |FROM (${GeoQueries.ringWalkOracle(prefix, "gid")}) z""".stripMargin
  }

  /** DuckDB twin of the exact-rational slab intersection
    * (geom/GeneralIntersectRings.scala): the same x20 integer shapes
    * rebuilt from the keys, the same breakpoints / spanning-edge sort /
    * even-odd gaps / side netting in BIGINT arithmetic with gcd-
    * canonical rationals, the same degree-1 functional ring walk as a
    * recursive CTE (walk from every corner, keep the walks whose start
    * is its cycle's minimum — the path-independent form, no correlated
    * subqueries in the recursive part), the same canonical ring order.
    * Every vertex double is CAST(n AS DOUBLE)/d of the same canonical
    * integers both engines hold, so the hash match is bit-for-bit. */
  private lazy val clipRingsArbitraryOracle: String = {
    // normalize rational (n0, d0) -> canonical (n, d), d > 0, gcd 1
    def nrm(n0: String, d0: String, n: String, d: String): String =
      s"""(CASE WHEN ($d0) < 0 THEN -($n0) ELSE ($n0) END)
         |  // GREATEST(gcd(ABS($n0), ABS($d0)), 1) AS $n,
         |ABS($d0) // GREATEST(gcd(ABS($n0), ABS($d0)), 1) AS $d""".stripMargin
    // canonical carrier-line key a*x + b*y = c as three BIGINTs, from
    // edge ints: gcd-reduced, (a, b) lexicographically positive
    def car(x0: String, y0: String, dx: String, dy: String): String = {
      val a = s"($dy)"; val b = s"(-($dx))"
      val c = s"(($dy)*($x0) - ($dx)*($y0))"
      val g = s"GREATEST(gcd(gcd(ABS($a), ABS($b)), ABS($c)), 1)"
      val s_ = s"(CASE WHEN ($a)//$g < 0 OR (($a)//$g = 0 AND ($b)//$g < 0)" +
        s" THEN -1 ELSE 1 END)"
      s"($a)//$g*$s_ AS ca, ($b)//$g*$s_ AS cb, ($c)//$g*$s_ AS cc"
    }
    def pt(tag: Int, i: Int, x0: String, y0: String, x1: String, y1: String) =
      s"{'tag': CAST($tag AS BIGINT), 'eidx': CAST($i AS BIGINT), " +
        s"'x0': $x0, 'y0': $y0, 'x1': $x1, 'y1': $y1}"
    def ringE(tag: Int, i0: Int, vs: Seq[(String, String)]): Seq[String] =
      vs.indices.map { i =>
        val (x0, y0) = vs(i); val (x1, y1) = vs((i + 1) % vs.length)
        pt(tag, i0 + i, x0, y0, x1, y1)
      }
    val pent = ringE(0, 0, Seq(("ax0", "ay0"), ("ax1", "ay0"),
      ("ax1", "ay1"), ("mid", "notch"), ("ax0", "ay1")))
    val hole = ringE(0, 5, Seq(("ax0 + 4*m", "ay0 + m"),
      ("ax0 + 8*m", "ay0 + m"), ("ax0 + 8*m", "ay0 + 4*m"),
      ("ax0 + 4*m", "ay0 + 4*m")))
    val ell = ringE(1, 0, Seq(("bx1", "by0"), ("bx1", "by0 + 200"),
      ("bx0 + 160", "by0 + 200"), ("bx0 + 160", "by1"),
      ("bx0", "by1"), ("bx0", "by0")))
    val edgeTy = "STRUCT(tag BIGINT, eidx BIGINT, x0 BIGINT, y0 BIGINT, " +
      "x1 BIGINT, y1 BIGINT)[]"
    s"""WITH RECURSIVE aa AS (${GeoData.rectCustomerSql}),
       |bb AS (${GeoData.polyNationSql}),
       |cand AS (
       |  SELECT aa.rid AS ida, bb.pid AS idb
       |  FROM aa JOIN bb ON aa.x0 <= bb.x1 AND bb.x0 <= aa.x1
       |                 AND aa.y0 <= bb.y1 AND bb.y0 <= aa.y1),
       |geom AS MATERIALIZED (
       |  SELECT ida*100 + idb AS gid, (ida + idb) % 2 = 0 AS withhole,
       |    (ida*131 % 1000)*2 - (ida % 10 + 1)*10 AS ax0,
       |    (ida*313 % 1000)*2 - (ida % 10 + 1)*10 AS ay0,
       |    (ida*131 % 1000)*2 + (ida % 10 + 1)*10 AS ax1,
       |    (ida*313 % 1000)*2 + (ida % 10 + 1)*10 AS ay1,
       |    (ida*131 % 1000)*2 AS mid,
       |    (ida*313 % 1000)*2 - (ida % 10 + 1)*10 + (ida % 10 + 1)*5 AS notch,
       |    ida % 10 + 1 AS m,
       |    (idb % 5)*400 AS bx0, (idb // 5)*400 AS by0,
       |    (idb % 5)*400 + 400 AS bx1, (idb // 5)*400 + 400 AS by1
       |  FROM cand),
       |edges AS MATERIALIZED (
       |  SELECT gid, e.tag, e.eidx, e.x0, e.y0, e.x1, e.y1,
       |    e.x1 - e.x0 AS dx, e.y1 - e.y0 AS dy
       |  FROM (SELECT gid, UNNEST(
       |      [${pent.mkString(", ")}] ||
       |      CASE WHEN withhole THEN [${hole.mkString(", ")}]
       |           ELSE CAST([] AS $edgeTy) END ||
       |      [${ell.mkString(", ")}]) AS e
       |    FROM geom) u),
       |bp0 AS (
       |  SELECT gid, x0 AS xn0, CAST(1 AS BIGINT) AS xd0 FROM edges
       |  UNION ALL SELECT gid, x1, 1 FROM edges
       |  UNION ALL
       |  SELECT a.gid,
       |    (b.y0 - a.y0)*a.dx*b.dx + a.x0*a.dy*b.dx - b.x0*b.dy*a.dx,
       |    a.dy*b.dx - b.dy*a.dx
       |  FROM edges a JOIN edges b ON a.gid = b.gid
       |    AND a.tag = 0 AND b.tag = 1
       |  WHERE a.dx <> 0 AND b.dx <> 0 AND a.dy*b.dx - b.dy*a.dx <> 0),
       |bpr AS MATERIALIZED (
       |  SELECT DISTINCT gid, ${nrm("xn0", "xd0", "xn", "xd")}
       |  FROM bp0),
       |bpf AS (
       |  SELECT b.gid, b.xn, b.xd FROM bpr b JOIN geom g ON g.gid = b.gid
       |  WHERE b.xn >= GREATEST(g.ax0, g.bx0)*b.xd
       |    AND b.xn <= LEAST(g.ax1, g.bx1)*b.xd),
       |slabs AS (
       |  SELECT gid, xn AS ln, xd AS ld,
       |    LEAD(xn) OVER ws AS rn, LEAD(xd) OVER ws AS rd
       |  FROM bpf
       |  WINDOW ws AS (PARTITION BY gid ORDER BY CAST(xn AS DOUBLE)/xd)
       |  QUALIFY rn IS NOT NULL),
       |spanY AS (
       |  SELECT s.gid, s.ln, s.ld, s.rn, s.rd, e.tag, e.eidx,
       |    e.x0, e.y0, e.dx, e.dy,
       |    e.y0*e.dx*s.ld + (s.ln - e.x0*s.ld)*e.dy AS yln0,
       |    e.dx*s.ld AS yld0,
       |    e.y0*e.dx*s.rd + (s.rn - e.x0*s.rd)*e.dy AS yrn0,
       |    e.dx*s.rd AS yrd0
       |  FROM slabs s JOIN edges e ON e.gid = s.gid
       |  WHERE e.dx <> 0
       |    AND LEAST(e.x0, e.x1)*s.ld <= s.ln
       |    AND s.rn <= GREATEST(e.x0, e.x1)*s.rd),
       |spanN AS (
       |  SELECT gid, ln, ld, rn, rd, tag, eidx, x0, y0, dx, dy,
       |    ${nrm("yln0", "yld0", "yln", "yld")},
       |    ${nrm("yrn0", "yrd0", "yrn", "yrd")}
       |  FROM spanY),
       |srt AS MATERIALIZED (
       |  SELECT *,
       |    SUM(CASE WHEN tag = 0 THEN 1 ELSE 0 END)
       |      OVER (wt ROWS UNBOUNDED PRECEDING) % 2 AS pa,
       |    SUM(CASE WHEN tag = 1 THEN 1 ELSE 0 END)
       |      OVER (wt ROWS UNBOUNDED PRECEDING) % 2 AS pb,
       |    LEAD(yln) OVER wt AS hyln, LEAD(yld) OVER wt AS hyld,
       |    LEAD(yrn) OVER wt AS hyrn, LEAD(yrd) OVER wt AS hyrd,
       |    LEAD(x0) OVER wt AS hx0, LEAD(y0) OVER wt AS hy0,
       |    LEAD(dx) OVER wt AS hdx, LEAD(dy) OVER wt AS hdy
       |  FROM spanN
       |  WINDOW wt AS (PARTITION BY gid, ln, ld
       |    ORDER BY CAST(yln AS DOUBLE)/yld, CAST(yrn AS DOUBLE)/yrd,
       |      tag, eidx)),
       |gaps AS MATERIALIZED (
       |  SELECT * FROM srt
       |  WHERE pa = 1 AND pb = 1 AND hyln IS NOT NULL
       |    AND NOT (yln = hyln AND yld = hyld AND yrn = hyrn
       |             AND yrd = hyrd)),
       |bt AS (
       |  SELECT gid, ln AS fxn, ld AS fxd, yln AS fyn, yld AS fyd,
       |    rn AS txn, rd AS txd, yrn AS tyn, yrd AS tyd,
       |    ${car("x0", "y0", "dx", "dy")}
       |  FROM gaps
       |  UNION ALL
       |  SELECT gid, rn, rd, hyrn, hyrd, ln, ld, hyln, hyld,
       |    ${car("hx0", "hy0", "hdx", "hdy")}
       |  FROM gaps),
       |sides AS MATERIALIZED (
       |  SELECT gid, rn AS xn, rd AS xd, yrn AS an, yrd AS ad,
       |    hyrn AS bn, hyrd AS bd, 1 AS dir
       |  FROM gaps WHERE NOT (yrn = hyrn AND yrd = hyrd)
       |  UNION ALL
       |  SELECT gid, ln, ld, yln, yld, hyln, hyld, -1
       |  FROM gaps WHERE NOT (yln = hyln AND yld = hyld)),
       |vys AS (
       |  SELECT DISTINCT gid, xn, xd, an AS yn, ad AS yd FROM sides
       |  UNION SELECT DISTINCT gid, xn, xd, bn, bd FROM sides),
       |vint AS (
       |  SELECT gid, xn, xd, yn AS un, yd AS ud,
       |    LEAD(yn) OVER wv AS vn, LEAD(yd) OVER wv AS vd
       |  FROM vys
       |  WINDOW wv AS (PARTITION BY gid, xn, xd
       |    ORDER BY CAST(yn AS DOUBLE)/yd)
       |  QUALIFY vn IS NOT NULL),
       |vnet0 AS MATERIALIZED (
       |  SELECT i.gid, i.xn, i.xd, i.un, i.ud, i.vn, i.vd,
       |    SUM(s.dir) AS net
       |  FROM vint i JOIN sides s ON s.gid = i.gid AND s.xn = i.xn
       |    AND s.xd = i.xd
       |    AND s.an*i.ud <= i.un*s.ad AND i.vn*s.bd <= s.bn*i.vd
       |  GROUP BY ALL),
       |vnet AS (SELECT * FROM vnet0 WHERE net <> 0),
       |frags AS MATERIALIZED (
       |  SELECT * FROM bt
       |  UNION ALL
       |  SELECT gid, xn, xd,
       |    CASE WHEN net = 1 THEN un ELSE vn END,
       |    CASE WHEN net = 1 THEN ud ELSE vd END,
       |    xn, xd,
       |    CASE WHEN net = 1 THEN vn ELSE un END,
       |    CASE WHEN net = 1 THEN vd ELSE ud END,
       |    xd // gcd(xd, ABS(xn)) AS ca, CAST(0 AS BIGINT) AS cb,
       |    xn // gcd(xd, ABS(xn)) AS cc
       |  FROM vnet),
       |fragi AS MATERIALIZED (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY gid
       |    ORDER BY fxn, fxd, fyn, fyd, txn, txd, tyn, tyd) AS fid
       |  FROM frags),
       |dirf AS MATERIALIZED (
       |  SELECT *, ${pseudoSql("ux", "uy")} AS ang FROM (
       |    SELECT *,
       |      CASE WHEN pick THEN cb ELSE -cb END AS ux,
       |      CASE WHEN pick THEN -ca ELSE ca END AS uy
       |    FROM (SELECT *,
       |      CASE WHEN txn*fxd <> fxn*txd
       |           THEN (cb > 0) = (txn*fxd > fxn*txd)
       |           ELSE (ca < 0) = (tyn*fyd > fyn*tyd) END AS pick
       |      FROM fragi) p0) p1),
       |cands AS MATERIALIZED (
       |  SELECT gid, fid, nfid,
       |    CASE WHEN ${pseudoSql("rx", "ry")} = 0.0 THEN 4.0
       |         ELSE ${pseudoSql("rx", "ry")} END AS tk
       |  FROM (
       |    SELECT o.gid, o.fid, c.fid AS nfid,
       |      o.ux*c.ux + o.uy*c.uy AS rx, o.ux*c.uy - o.uy*c.ux AS ry
       |    FROM dirf o JOIN dirf c ON c.gid = o.gid
       |      AND c.fxn = o.txn AND c.fxd = o.txd
       |      AND c.fyn = o.tyn AND c.fyd = o.tyd) c0),
       |succ AS MATERIALIZED (
       |  SELECT gid, fid, nfid FROM (
       |    SELECT gid, fid, nfid,
       |      ROW_NUMBER() OVER (PARTITION BY gid, fid ORDER BY tk) AS rnk
       |    FROM cands) z
       |  WHERE rnk = 1),
       |cinfo AS MATERIALIZED (
       |  SELECT f.gid, f.fid, f.fxn, f.fxd, f.fyn, f.fyd, f.ang,
       |    (p.ca <> f.ca OR p.cb <> f.cb OR p.cc <> f.cc) AS iscorner
       |  FROM dirf f
       |  JOIN succ sp ON sp.gid = f.gid AND sp.nfid = f.fid
       |  JOIN fragi p ON p.gid = f.gid AND p.fid = sp.fid),
       |walk AS (
       |  SELECT gid, fid AS sfid, fid AS cfid, 1 AS cnt,
       |    fxn AS mnxn, fxd AS mnxd, fyn AS mnyn, fyd AS mnyd, ang AS mnang,
       |    FALSE AS done, TRUE AS emitted, 0 AS emvi,
       |    fxn AS exn, fxd AS exd, fyn AS eyn, fyd AS eyd, 0 AS steps
       |  FROM cinfo WHERE iscorner
       |  UNION ALL
       |  SELECT gid, sfid, nfid, cnt + CASE WHEN emit THEN 1 ELSE 0 END,
       |    CASE WHEN newmin THEN nfxn ELSE mnxn END,
       |    CASE WHEN newmin THEN nfxd ELSE mnxd END,
       |    CASE WHEN newmin THEN nfyn ELSE mnyn END,
       |    CASE WHEN newmin THEN nfyd ELSE mnyd END,
       |    CASE WHEN newmin THEN nang ELSE mnang END,
       |    closing AS done, emit AS emitted, cnt AS emvi,
       |    nfxn, nfxd, nfyn, nfyd, steps + 1
       |  FROM (
       |    SELECT w.gid, w.sfid, w.cnt, w.mnxn, w.mnxd, w.mnyn, w.mnyd,
       |      w.mnang, w.steps, n.fid AS nfid, n.fxn AS nfxn, n.fxd AS nfxd,
       |      n.fyn AS nfyn, n.fyd AS nfyd, n.ang AS nang,
       |      (n.fid = w.sfid) AS closing,
       |      (n.iscorner AND n.fid <> w.sfid) AS emit,
       |      (n.iscorner AND n.fid <> w.sfid AND (
       |        n.fxn*w.mnxd < w.mnxn*n.fxd
       |        OR (n.fxn = w.mnxn AND n.fxd = w.mnxd
       |            AND n.fyn*w.mnyd < w.mnyn*n.fyd)
       |        OR (n.fxn = w.mnxn AND n.fxd = w.mnxd AND n.fyn = w.mnyn
       |            AND n.fyd = w.mnyd AND n.ang < w.mnang))) AS newmin
       |    FROM walk w
       |    JOIN succ s ON s.gid = w.gid AND s.fid = w.cfid
       |    JOIN cinfo n ON n.gid = w.gid AND n.fid = s.nfid
       |    WHERE NOT w.done AND w.steps < 100000) z),
       |wres AS MATERIALIZED (SELECT * FROM walk),
       |viol AS (
       |  SELECT COUNT(*) AS v FROM (
       |    SELECT gid FROM vnet0 WHERE ABS(net) > 1
       |    UNION ALL
       |    SELECT f.gid FROM fragi f LEFT JOIN succ s
       |      ON s.gid = f.gid AND s.fid = f.fid WHERE s.fid IS NULL
       |    UNION ALL
       |    SELECT gid FROM cands GROUP BY gid, fid, tk HAVING COUNT(*) > 1
       |    UNION ALL
       |    SELECT gid FROM succ GROUP BY gid, nfid HAVING COUNT(*) > 1
       |    UNION ALL
       |    SELECT gid FROM wres WHERE steps >= 100000 AND NOT done) bad),
       |guard AS (
       |  SELECT CASE WHEN v > 0 THEN CAST(error(
       |      'q_clip_rings_arbitrary oracle: invariant violated') AS BIGINT)
       |    ELSE 0 END AS g FROM viol),
       |fin AS (
       |  SELECT w.gid, w.sfid, w.mnxn, w.mnxd, w.mnyn, w.mnyd, w.mnang
       |  FROM wres w JOIN cinfo c0 ON c0.gid = w.gid AND c0.fid = w.sfid
       |  WHERE w.done AND c0.fxn = w.mnxn AND c0.fxd = w.mnxd
       |    AND c0.fyn = w.mnyn AND c0.fyd = w.mnyd AND c0.ang = w.mnang),
       |ringz AS (
       |  SELECT gid, sfid,
       |    DENSE_RANK() OVER (PARTITION BY gid
       |      ORDER BY CAST(mnxn AS DOUBLE)/mnxd, CAST(mnyn AS DOUBLE)/mnyd,
       |        mnang) - 1 AS ring
       |  FROM fin)
       |SELECT CAST(w.gid // 100 AS BIGINT) AS ida,
       |  CAST(w.gid % 100 AS BIGINT) AS idb,
       |  CAST(r.ring AS INT) AS ring, CAST(w.emvi AS INT) AS vi,
       |  (CAST(w.exn AS DOUBLE)/w.exd) / 20.0 AS x,
       |  (CAST(w.eyn AS DOUBLE)/w.eyd) / 20.0 AS y
       |FROM wres w JOIN ringz r ON r.gid = w.gid AND r.sfid = w.sfid
       |CROSS JOIN guard
       |WHERE w.emitted AND guard.g = 0""".stripMargin
  }

  /** Monotone pseudo-angle in [0, 4) of an integer vector — the SQL twin
    * of GeneralIntersect.pseudo: same double division of exact ints. */
  private def pseudoSql(x: String, y: String): String =
    s"""(CASE WHEN ($y) > 0 THEN 1.0 - CAST($x AS DOUBLE)/(ABS($x) + ABS($y))
       |      WHEN ($y) = 0 AND ($x) < 0 THEN 2.0
       |      WHEN ($y) < 0 THEN 3.0 + CAST($x AS DOUBLE)/(ABS($x) + ABS($y))
       |      ELSE 0.0 END)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_clip_rings_arbitrary" -> clipRingsArbitraryOracle,
    "q_clip_rings_general" -> clipRingsGeneralOracle,
    "q_intersection_area_poly" -> intersectionAreaOracle,
    "q_intersection_area_concave" -> intersectionAreaConcaveOracle,
    "q_intersection_area_general" -> intersectionAreaGeneralOracle,
    "q_clip_rings" -> clipRingsOracle,
    "q_dissolve_overlap" -> dissolveOverlapOracle,
    "q_dissolve_union_rings" -> dissolveUnionRingsOracle)
}
