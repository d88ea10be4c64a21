package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GeoData, Graft}
import graft.operators._

/** Geo operator queries over the derived layers (SURVEY.md §2 rows 1-13).
  * Every oracle mirrors the Spark expression tree exactly — see SURVEY.md §3.
  */
object GeoQueries {

  // --------------------------------------------------------------- helpers

  private val ptsCte = s"WITH pts AS (${GeoData.ptsEventsSql})"
  private val boundsCte =
    """b AS (SELECT MIN(x) AS xmin, MIN(y) AS ymin, MAX(x) AS xmax, MAX(y) AS ymax,
      |             CAST(CEIL((MAX(y) - MIN(y)) / 10.0) AS BIGINT) AS rows_,
      |             CAST(CEIL((MAX(x) - MIN(x)) / 10.0) AS BIGINT) AS cols_
      |      FROM pts)""".stripMargin

  // --------------------------------------------------------------- queries

  def qMeanCoordinates(spark: SparkSession, dir: String): DataFrame =
    Graft.meanCoordinates(GeoData.ptsEvents(spark, dir), Some("cat"),
      Some("weight"))

  def qMakeGrid(spark: SparkSession, dir: String): DataFrame =
    Graft.makeGrid(spark, GeoData.ptsEvents(spark, dir), 10.0)

  def qGridify(spark: SparkSession, dir: String): DataFrame =
    Graft.gridifyData(GeoData.ptsEvents(spark, dir), 10.0, "weight")

  def qSnap(spark: SparkSession, dir: String): DataFrame =
    Graft.snapToNearest(GeoData.ptsEvents(spark, dir).select("id", "x", "y"),
      GeoData.ptsSupplier(spark, dir), 15.0)

  def qIntersects(spark: SparkSession, dir: String): DataFrame = {
    val r = GeoData.rectCustomer(spark, dir)
    Graft.intersectsByid(r, r, 11.0)
  }

  def qFtouches(spark: SparkSession, dir: String): DataFrame = {
    val r = GeoData.rectCustomer(spark, dir)
    Graft.ftouchesByid(r, r, 12.0, 0.5)
  }

  def qIntersectionPart(spark: SparkSession, dir: String): DataFrame = {
    val r = GeoData.rectCustomer(spark, dir)
    Graft.intersectionPart(r, r, 11.0)
  }

  def qGetBorders(spark: SparkSession, dir: String): DataFrame =
    Graft.getBorders(GeoData.polyNation(spark, dir), "name", 21.0, 0.01)

  def qFindBorders(spark: SparkSession, dir: String): DataFrame =
    Graft.findBorders(GeoData.polyNation(spark, dir), "name", 21.0, 0.01)

  def qSharedBorder(spark: SparkSession, dir: String): DataFrame =
    Graft.lSharedBorder(GeoData.polyNation(spark, dir), 21.0, 0.01)

  def qDissolve(spark: SparkSession, dir: String): DataFrame =
    Graft.dissolve(GeoData.polyNation(spark, dir), "rkey")

  /** The dissolved regions' actual boundary geometry (edge set). */
  def qDissolveBorders(spark: SparkSession, dir: String): DataFrame =
    Dissolve.boundaryEdges(GeoData.polyNation(spark, dir), "rkey")

  /** The dissolved regions' MERGED RING geometry: boundary edges ordered
    * into closed rings by the deterministic rightmost-turn walk — the
    * reference dissolve's returned (Multi)Polygon (core.py:257-282). */
  def qDissolveRings(spark: SparkSession, dir: String): DataFrame =
    Dissolve.dissolveRings(GeoData.polyNation(spark, dir), "rkey")

  /** Region multipolygons (parts collected per region), then exploded back —
    * the multi_to_single path. */
  def qMultiToSingle(spark: SparkSession, dir: String): DataFrame = {
    val multi = GeoData.polyNation(spark, dir)
      .groupBy("rkey")
      .agg(collect_list(struct(col("pid"), col("x0"), col("y0"),
        col("x1"), col("y1"))).as("parts"))
    Graft.multiToSingle(multi, "parts")
      .select(col("rkey"), col("part_idx").cast("long").as("part_idx"),
        col("part.pid").as("pid"),
        col("part.x0").as("x0"), col("part.y0").as("y0"),
        col("part.x1").as("x1"), col("part.y1").as("y1"))
  }

  def qDumbMultiToSingle(spark: SparkSession, dir: String): DataFrame = {
    val multi = GeoData.polyNation(spark, dir)
      .groupBy("rkey")
      .agg(collect_list(struct(col("pid"), col("x0"), col("y0"),
        col("x1"), col("y1"))).as("parts"))
    Graft.dumbMultiToSingle(multi, "parts")
      .select(col("rkey"), col("part.pid").as("pid"),
        col("part.x0").as("x0"), col("part.y0").as("y0"),
        col("part.x1").as("x1"), col("part.y1").as("y1"))
  }

  // --------------------------------------------------------------- oracles

  private val rectPairsFrom =
    s"""WITH r AS (${GeoData.rectCustomerSql}),
       |pairs AS (
       |  SELECT a.rid AS ida, b.rid AS idb,
       |    a.x0 AS ax0, a.y0 AS ay0, a.x1 AS ax1, a.y1 AS ay1,
       |    b.x0 AS bx0, b.y0 AS by0, b.x1 AS bx1, b.y1 AS by1
       |  FROM r a, r b)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_mean_coordinates" ->
      s"""$ptsCte
         |SELECT cat,
         |  ROUND(SUM(x * weight) / SUM(weight), 4) AS mean_x,
         |  ROUND(SUM(y * weight) / SUM(weight), 4) AS mean_y,
         |  CAST(SUM(weight) AS BIGINT) AS weight_sum,
         |  COUNT(*) AS n_pts
         |FROM pts GROUP BY cat""".stripMargin,

    "q_make_grid" ->
      s"""$ptsCte,
         |$boundsCte
         |SELECT g.cell_id,
         |  CAST(FLOOR(g.cell_id / b.rows_) AS BIGINT) AS col,
         |  g.cell_id % b.rows_ AS row,
         |  b.xmin + CAST(FLOOR(g.cell_id / b.rows_) AS BIGINT) * 10.0 AS x0,
         |  b.ymax - (g.cell_id % b.rows_ + 1) * 10.0 AS y0,
         |  b.xmin + (CAST(FLOOR(g.cell_id / b.rows_) AS BIGINT) + 1) * 10.0 AS x1,
         |  b.ymax - (g.cell_id % b.rows_) * 10.0 AS y1
         |FROM b, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, b.rows_ * b.cols_ - 1)) AS cell_id) g""".stripMargin,

    "q_gridify" ->
      s"""$ptsCte,
         |$boundsCte
         |SELECT CAST(LEAST(FLOOR((p.x - b.xmin) / 10.0), b.cols_ - 1) * b.rows_
         |     + LEAST(FLOOR((b.ymax - p.y) / 10.0), b.rows_ - 1) AS BIGINT) AS cell_id,
         |  COUNT(*) AS n_pts,
         |  ROUND(AVG(p.weight), 4) AS mean_val,
         |  MIN(p.weight) AS min_val,
         |  MAX(p.weight) AS max_val
         |FROM pts p, b
         |GROUP BY 1""".stripMargin,

    "q_snap_to_nearest" ->
      s"""$ptsCte,
         |tgt AS (${GeoData.ptsSupplierSql}),
         |best AS (
         |  SELECT p.id, t.tid, t.tx, t.ty,
         |    (p.x - t.tx) * (p.x - t.tx) + (p.y - t.ty) * (p.y - t.ty) AS d2
         |  FROM pts p JOIN tgt t
         |    ON (p.x - t.tx) * (p.x - t.tx) + (p.y - t.ty) * (p.y - t.ty) <= 225.0
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY p.id ORDER BY d2, t.tid) = 1)
         |SELECT p.id,
         |  COALESCE(b.tx, p.x) AS x,
         |  COALESCE(b.ty, p.y) AS y,
         |  b.tid,
         |  b.tid IS NOT NULL AS snapped
         |FROM pts p LEFT JOIN best b USING (id)""".stripMargin,

    "q_intersects_byid" ->
      s"""$rectPairsFrom
         |SELECT ida, idb FROM pairs
         |WHERE ax0 <= bx1 AND bx0 <= ax1 AND ay0 <= by1 AND by0 <= ay1""".stripMargin,

    "q_ftouches_byid" ->
      s"""$rectPairsFrom
         |SELECT ida, idb FROM pairs
         |WHERE ax0 <= bx1 + 0.5 AND bx0 - 0.5 <= ax1
         |  AND ay0 <= by1 + 0.5 AND by0 - 0.5 <= ay1""".stripMargin,

    "q_intersection_part" ->
      s"""$rectPairsFrom,
         |parts AS (
         |  SELECT ida, idb,
         |    FLOOR(GREATEST(0.0, LEAST(ax1, bx1) - GREATEST(ax0, bx0))
         |        * GREATEST(0.0, LEAST(ay1, by1) - GREATEST(ay0, by0))
         |        / ((ax1 - ax0) * (ay1 - ay0)) * 10000.0 + 0.5) / 10000.0 AS part
         |  FROM pairs
         |  WHERE ax0 <= bx1 AND bx0 <= ax1 AND ay0 <= by1 AND by0 <= ay1)
         |SELECT ida, idb, part FROM parts WHERE part > 0.0""".stripMargin,

    "q_dissolve_borders" ->
      s"""WITH poly AS (${GeoData.polyNationSql}),
         |edges AS (
         |  SELECT rkey, UNNEST([
         |    {'ex0': x0, 'ey0': y0, 'ex1': x1, 'ey1': y0},
         |    {'ex0': x0, 'ey0': y1, 'ex1': x1, 'ey1': y1},
         |    {'ex0': x0, 'ey0': y0, 'ex1': x0, 'ey1': y1},
         |    {'ex0': x1, 'ey0': y0, 'ex1': x1, 'ey1': y1}]) AS e
         |  FROM poly)
         |SELECT rkey, e.ex0 AS ex0, e.ey0 AS ey0, e.ex1 AS ex1, e.ey1 AS ey1
         |FROM edges GROUP BY rkey, e HAVING COUNT(*) = 1""".stripMargin,

    "q_get_borders" -> borderSql(directed = true),
    "q_find_borders" -> borderSql(directed = false),

    "q_shared_border" ->
      s"""WITH poly AS (${GeoData.polyNationSql}),
         |adj AS (${adjacencySql()})
         |SELECT ida, idb, ROUND(length, 4) AS shared_len FROM adj""".stripMargin,

    "q_dissolve" ->
      s"""WITH poly AS (${GeoData.polyNationSql}),
         |edges AS (
         |  SELECT rkey, UNNEST([
         |    {'ex0': x0, 'ey0': y0, 'ex1': x1, 'ey1': y0},
         |    {'ex0': x0, 'ey0': y1, 'ex1': x1, 'ey1': y1},
         |    {'ex0': x0, 'ey0': y0, 'ex1': x0, 'ey1': y1},
         |    {'ex0': x1, 'ey0': y0, 'ex1': x1, 'ey1': y1}]) AS e
         |  FROM poly),
         |uniq AS (SELECT rkey, e FROM edges GROUP BY rkey, e HAVING COUNT(*) = 1),
         |bnd AS (SELECT rkey,
         |          ROUND(SUM(ABS(e.ex1 - e.ex0) + ABS(e.ey1 - e.ey0)), 4) AS perimeter
         |        FROM uniq GROUP BY rkey),
         |st AS (SELECT rkey, COUNT(*) AS n_parts,
         |         ROUND(SUM((x1 - x0) * (y1 - y0)), 4) AS area
         |       FROM poly GROUP BY rkey)
         |SELECT st.rkey, st.n_parts, st.area, bnd.perimeter
         |FROM st JOIN bnd USING (rkey)""".stripMargin,

    "q_dissolve_rings" -> dissolveRingsOracle,

    "q_multi_to_single" ->
      s"""WITH poly AS (${GeoData.polyNationSql})
         |SELECT rkey,
         |  ROW_NUMBER() OVER (PARTITION BY rkey ORDER BY pid) - 1 AS part_idx,
         |  pid, x0, y0, x1, y1
         |FROM poly""".stripMargin,

    "q_dumb_multi_to_single" ->
      s"""WITH poly AS (${GeoData.polyNationSql})
         |SELECT rkey, pid, x0, y0, x1, y1
         |FROM poly
         |QUALIFY ROW_NUMBER() OVER (PARTITION BY rkey ORDER BY pid) = 1""".stripMargin)

  /** DuckDB twin of the rightmost-turn boundary-ring walk
    * (graft.geom.RingAssembly): one recursive-CTE step consumes one edge
    * and emits one vertex. State per group = sorted edge list `es`, used
    * edge indexes, current vertex (cx,cy), incoming direction (dx,dy),
    * ring start (sx,sy). `pick` = at a ring start the min unused index
    * (es is sorted, so that's the lexicographically least unused edge);
    * mid-ring the unused incident edge minimizing turn-score*1000+index
    * with score right(0) < straight(1) < left(2) — exactly the kernel's
    * priority and tie-break. */
  private lazy val dissolveRingsOracle: String =
    ringWalkOracle(
      s"""poly AS (${GeoData.polyNationSql}),
         |edges0 AS (
         |  SELECT rkey, UNNEST([
         |    {'ex0': x0, 'ey0': y0, 'ex1': x1, 'ey1': y0},
         |    {'ex0': x0, 'ey0': y1, 'ex1': x1, 'ey1': y1},
         |    {'ex0': x0, 'ey0': y0, 'ex1': x0, 'ey1': y1},
         |    {'ex0': x1, 'ey0': y0, 'ex1': x1, 'ey1': y1}]) AS e
         |  FROM poly),
         |uniq AS (SELECT rkey, e FROM edges0
         |         GROUP BY rkey, e HAVING COUNT(*) = 1)""".stripMargin,
      "rkey")

  /** The recursive ring walk over any prefix of CTEs ending in
    * `uniq(rkey, e)` — the boundary edge set after cancellation. Shared
    * by the tiling dissolve (q_dissolve_rings) and the overlap-union
    * rings (q_dissolve_union_rings), which differ only in how the edge
    * set is derived. The `% 1000` tie-break packing assumes < 1000
    * boundary edges per group (holds at the oracle's sf0.01 scale). */
  private[queries] def ringWalkOracle(prefixCtes: String,
                                      keyAlias: String): String = {
    // direction of edge i leaving (cx,cy): +-1/0 per axis, like the
    // kernel's sgn()
    def od(axis: String): String =
      s"""(CASE WHEN es[i].ex0 = cx AND es[i].ey0 = cy
         |      THEN CAST(SIGN(es[i].e${axis}1 - es[i].e${axis}0) AS INT)
         |      ELSE CAST(SIGN(es[i].e${axis}0 - es[i].e${axis}1) AS INT) END)"""
        .stripMargin
    s"""WITH RECURSIVE $prefixCtes,
       |el AS MATERIALIZED (
       |  SELECT rkey, list(e ORDER BY e.ex0, e.ey0, e.ex1, e.ey1) AS es
       |  FROM uniq GROUP BY rkey),
       |walk AS (
       |  SELECT rkey, es,
       |    CAST([] AS BIGINT[]) AS used,
       |    -1 AS ring, 0 AS vi,
       |    CAST(NULL AS DOUBLE) AS cx, CAST(NULL AS DOUBLE) AS cy,
       |    0 AS dx, 0 AS dy,
       |    CAST(NULL AS DOUBLE) AS sx, CAST(NULL AS DOUBLE) AS sy,
       |    CAST(NULL AS DOUBLE) AS vx, CAST(NULL AS DOUBLE) AS vy
       |  FROM el
       |  UNION ALL
       |  SELECT rkey, es,
       |    list_append(used, pick) AS used,
       |    CASE WHEN starting THEN ring + 1 ELSE ring END AS ring,
       |    CASE WHEN starting THEN 0 ELSE vi + 1 END AS vi,
       |    CASE WHEN starting THEN es[pick].ex1
       |         WHEN es[pick].ex0 = cx AND es[pick].ey0 = cy THEN es[pick].ex1
       |         ELSE es[pick].ex0 END AS cx,
       |    CASE WHEN starting THEN es[pick].ey1
       |         WHEN es[pick].ex0 = cx AND es[pick].ey0 = cy THEN es[pick].ey1
       |         ELSE es[pick].ey0 END AS cy,
       |    CASE WHEN starting OR (es[pick].ex0 = cx AND es[pick].ey0 = cy)
       |         THEN CAST(SIGN(es[pick].ex1 - es[pick].ex0) AS INT)
       |         ELSE CAST(SIGN(es[pick].ex0 - es[pick].ex1) AS INT) END AS dx,
       |    CASE WHEN starting OR (es[pick].ex0 = cx AND es[pick].ey0 = cy)
       |         THEN CAST(SIGN(es[pick].ey1 - es[pick].ey0) AS INT)
       |         ELSE CAST(SIGN(es[pick].ey0 - es[pick].ey1) AS INT) END AS dy,
       |    CASE WHEN starting THEN es[pick].ex0 ELSE sx END AS sx,
       |    CASE WHEN starting THEN es[pick].ey0 ELSE sy END AS sy,
       |    CASE WHEN starting THEN es[pick].ex0 ELSE cx END AS vx,
       |    CASE WHEN starting THEN es[pick].ey0 ELSE cy END AS vy
       |  FROM (
       |    SELECT *,
       |      (cx IS NULL OR (cx = sx AND cy = sy)) AS starting,
       |      CASE WHEN cx IS NULL OR (cx = sx AND cy = sy)
       |        THEN list_min(list_filter(range(1, len(es) + 1),
       |               i -> NOT list_contains(used, i)))
       |        ELSE list_min(list_transform(
       |               list_filter(range(1, len(es) + 1),
       |                 i -> NOT list_contains(used, i)
       |                      AND ((es[i].ex0 = cx AND es[i].ey0 = cy)
       |                        OR (es[i].ex1 = cx AND es[i].ey1 = cy))),
       |               i -> (CASE
       |                 WHEN ${od("x")} = dy AND ${od("y")} = -dx THEN 0
       |                 WHEN ${od("x")} = dx AND ${od("y")} = dy THEN 1
       |                 WHEN ${od("x")} = -dy AND ${od("y")} = dx THEN 2
       |                 ELSE 3 END) * 1000 + i)) % 1000
       |      END AS pick
       |    FROM walk
       |    WHERE len(used) < len(es)) s)
       |SELECT rkey AS $keyAlias, CAST(ring AS INT) AS ring,
       |  CAST(vi AS INT) AS vi, vx AS x, vy AS y
       |FROM walk WHERE vx IS NOT NULL""".stripMargin
  }

  /** Adjacency (touch within tol, overlap on the other axis) over nation
    * squares — shared SQL for the borders family. Mirrors Borders.getBorders.
    */
  private def adjacencySql(tol: Double = 0.01): String =
    s"""SELECT a.pid AS ida, b.pid AS idb, a.name AS na, b.name AS nb,
       |  LEAST(a.x1, b.x1) - GREATEST(a.x0, b.x0) AS ox,
       |  LEAST(a.y1, b.y1) - GREATEST(a.y0, b.y0) AS oy,
       |  CASE WHEN LEAST(a.x1, b.x1) - GREATEST(a.x0, b.x0) <= $tol
       |            AND LEAST(a.x1, b.x1) - GREATEST(a.x0, b.x0) >= -$tol
       |       THEN LEAST(a.y1, b.y1) - GREATEST(a.y0, b.y0)
       |       ELSE LEAST(a.x1, b.x1) - GREATEST(a.x0, b.x0) END AS length
       |FROM poly a, poly b
       |WHERE a.pid <> b.pid
       |  AND ((LEAST(a.x1, b.x1) - GREATEST(a.x0, b.x0) <= $tol
       |        AND LEAST(a.x1, b.x1) - GREATEST(a.x0, b.x0) >= -$tol
       |        AND LEAST(a.y1, b.y1) - GREATEST(a.y0, b.y0) > $tol)
       |    OR (LEAST(a.y1, b.y1) - GREATEST(a.y0, b.y0) <= $tol
       |        AND LEAST(a.y1, b.y1) - GREATEST(a.y0, b.y0) >= -$tol
       |        AND LEAST(a.x1, b.x1) - GREATEST(a.x0, b.x0) > $tol))""".stripMargin

  private def borderSql(directed: Boolean): String = {
    val filt = if (directed) "" else "WHERE ida < idb"
    s"""WITH poly AS (${GeoData.polyNationSql}),
       |adj AS (${adjacencySql()})
       |SELECT ida, idb, na || '-' || nb AS front, ROUND(length, 4) AS length
       |FROM adj $filt""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mean_coordinates" -> (qMeanCoordinates _),
    "q_make_grid" -> (qMakeGrid _),
    "q_gridify" -> (qGridify _),
    "q_snap_to_nearest" -> (qSnap _),
    "q_intersects_byid" -> (qIntersects _),
    "q_ftouches_byid" -> (qFtouches _),
    "q_intersection_part" -> (qIntersectionPart _),
    "q_get_borders" -> (qGetBorders _),
    "q_find_borders" -> (qFindBorders _),
    "q_shared_border" -> (qSharedBorder _),
    "q_dissolve" -> (qDissolve _),
    "q_dissolve_borders" -> (qDissolveBorders _),
    "q_dissolve_rings" -> (qDissolveRings _),
    "q_multi_to_single" -> (qMultiToSingle _),
    "q_dumb_multi_to_single" -> (qDumbMultiToSingle _))
}
