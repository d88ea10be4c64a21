package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GeoData, Graft}
import graft.operators.Contour

/** Contour/isochrone queries (SURVEY.md §2 rows 19-20) over the events
  * point layer. The oracle computes the UN-bucketed full cell-point join —
  * proving the engine's bucketed explode is a pure optimization.
  */
object ContourQueries {

  def qContour(spark: SparkSession, dir: String): DataFrame =
    Graft.contourPoly(
      GeoData.ptsEvents(spark, dir)
        .select(col("x"), col("y"), col("weight").as("val")),
      cell = 10.0, radius = 15.0, bandWidth = 10.0)

  def qIsochrone(spark: SparkSession, dir: String): DataFrame =
    Graft.accessIsocrone(spark,
      GeoData.ptsEvents(spark, dir).select(col("x"), col("y")),
      cell = 10.0, bandMinutes = 10.0)

  def qContourKde(spark: SparkSession, dir: String): DataFrame =
    Graft.contourPolyKde(
      GeoData.ptsEvents(spark, dir)
        .select(col("x"), col("y"), col("weight").as("val")),
      cell = 10.0, radius = 15.0, bandWidth = 50.0)

  def qIsochroneBfs(spark: SparkSession, dir: String): DataFrame =
    Contour.isochroneBfs(spark,
      GeoData.ptsEvents(spark, dir).select(col("x"), col("y")),
      cell = 10.0, bandMinutes = 10L)

  def qIsochroneBfsMulti(spark: SparkSession, dir: String): DataFrame =
    Contour.isochroneBfsMulti(spark,
      GeoData.ptsEvents(spark, dir).select(col("x"), col("y")),
      cell = 10.0, bandMinutes = 10L)

  def qIsobandEdges(spark: SparkSession, dir: String): DataFrame =
    Contour.isobandOutlines(
      GeoData.ptsEvents(spark, dir)
        .select(col("x"), col("y"), col("weight").as("val")),
      cell = 10.0, radius = 15.0, bandWidth = 10.0)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_contour" -> (qContour _),
    "q_contour_kde" -> (qContourKde _),
    "q_isochrone" -> (qIsochrone _),
    "q_isochrone_bfs" -> (qIsochroneBfs _),
    "q_isochrone_bfs_multi" -> (qIsochroneBfsMulti _),
    "q_isoband_edges" -> (qIsobandEdges _))

  private val boundsCte =
    """b AS (SELECT MIN(x) AS xmin, MIN(y) AS ymin, MAX(x) AS xmax,
      |             MAX(y) AS ymax,
      |             CAST(CEIL((MAX(x) - MIN(x)) / 10.0) AS BIGINT) AS cols_,
      |             CAST(CEIL((MAX(y) - MIN(y)) / 10.0) AS BIGINT) AS rows_
      |      FROM pts)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_contour" ->
      s"""WITH pts AS (${GeoData.ptsEventsSql}),
         |$boundsCte,
         |cells AS (
         |  SELECT cx, cy,
         |    b.xmin + (cx + 0.5) * 10.0 AS xc,
         |    b.ymin + (cy + 0.5) * 10.0 AS yc
         |  FROM b,
         |  LATERAL (SELECT unnest(generate_series(0, b.cols_ - 1)) AS cx) u,
         |  LATERAL (SELECT unnest(generate_series(0, b.rows_ - 1)) AS cy) v),
         |j AS (
         |  SELECT c.cx, c.cy, p.weight,
         |    (p.x - c.xc) * (p.x - c.xc) + (p.y - c.yc) * (p.y - c.yc) AS d2
         |  FROM cells c, pts p
         |  WHERE (p.x - c.xc) * (p.x - c.xc)
         |      + (p.y - c.yc) * (p.y - c.yc) <= 225.0),
         |agg AS (
         |  SELECT cx, cy, COUNT(*) AS n_src,
         |    ROUND(SUM(CAST(weight AS DOUBLE) / GREATEST(d2, 1e-6))
         |        / SUM(1.0 / GREATEST(d2, 1e-6)), 4) AS idw
         |  FROM j GROUP BY 1, 2)
         |SELECT cx, cy, n_src, idw,
         |  CAST(FLOOR(idw / 10.0) AS BIGINT) AS band
         |FROM agg""".stripMargin,

    "q_contour_kde" ->
      s"""WITH pts AS (${GeoData.ptsEventsSql}),
         |$boundsCte,
         |cells AS (
         |  SELECT cx, cy,
         |    b.xmin + (cx + 0.5) * 10.0 AS xc,
         |    b.ymin + (cy + 0.5) * 10.0 AS yc
         |  FROM b,
         |  LATERAL (SELECT unnest(generate_series(0, b.cols_ - 1)) AS cx) u,
         |  LATERAL (SELECT unnest(generate_series(0, b.rows_ - 1)) AS cy) v),
         |j AS (
         |  SELECT c.cx, c.cy, p.weight,
         |    (p.x - c.xc) * (p.x - c.xc) + (p.y - c.yc) * (p.y - c.yc) AS d2
         |  FROM cells c, pts p
         |  WHERE (p.x - c.xc) * (p.x - c.xc)
         |      + (p.y - c.yc) * (p.y - c.yc) <= 225.0),
         |agg AS (
         |  SELECT cx, cy, COUNT(*) AS n_src,
         |    ROUND(SUM(CAST(weight AS DOUBLE) * (1.0 - d2 / 225.0)), 4)
         |      AS kde
         |  FROM j GROUP BY 1, 2)
         |SELECT cx, cy, n_src, kde,
         |  CAST(FLOOR(kde / 50.0) AS BIGINT) AS band
         |FROM agg""".stripMargin,

    "q_isoband_edges" ->
      s"""WITH pts AS (${GeoData.ptsEventsSql}),
         |$boundsCte,
         |cells AS (
         |  SELECT cx, cy,
         |    b.xmin + (cx + 0.5) * 10.0 AS xc,
         |    b.ymin + (cy + 0.5) * 10.0 AS yc
         |  FROM b,
         |  LATERAL (SELECT unnest(generate_series(0, b.cols_ - 1)) AS cx) u,
         |  LATERAL (SELECT unnest(generate_series(0, b.rows_ - 1)) AS cy) v),
         |j AS (
         |  SELECT c.cx, c.cy, p.weight,
         |    (p.x - c.xc) * (p.x - c.xc) + (p.y - c.yc) * (p.y - c.yc) AS d2
         |  FROM cells c, pts p
         |  WHERE (p.x - c.xc) * (p.x - c.xc)
         |      + (p.y - c.yc) * (p.y - c.yc) <= 225.0),
         |agg AS (
         |  SELECT cx, cy,
         |    ROUND(SUM(CAST(weight AS DOUBLE) / GREATEST(d2, 1e-6))
         |        / SUM(1.0 / GREATEST(d2, 1e-6)), 4) AS idw
         |  FROM j GROUP BY 1, 2),
         |rects AS (
         |  SELECT CAST(FLOOR(idw / 10.0) AS BIGINT) AS band,
         |    b.xmin + cx * 10.0 AS x0, b.ymin + cy * 10.0 AS y0,
         |    b.xmin + (cx + 1) * 10.0 AS x1, b.ymin + (cy + 1) * 10.0 AS y1
         |  FROM agg, b),
         |edges AS (
         |  SELECT band, UNNEST([
         |    {'ex0': x0, 'ey0': y0, 'ex1': x1, 'ey1': y0},
         |    {'ex0': x0, 'ey0': y1, 'ex1': x1, 'ey1': y1},
         |    {'ex0': x0, 'ey0': y0, 'ex1': x0, 'ey1': y1},
         |    {'ex0': x1, 'ey0': y0, 'ex1': x1, 'ey1': y1}]) AS e
         |  FROM rects)
         |SELECT band, e.ex0 AS ex0, e.ey0 AS ey0, e.ex1 AS ex1, e.ey1 AS ey1
         |FROM edges GROUP BY band, e HAVING COUNT(*) = 1""".stripMargin,

    // Closest-facility variant: same recursive CTE seeded with FIVE
    // origins (center + corners); the per-cell MIN over all walk states
    // is the distance to the nearest origin.
    "q_isochrone_bfs_multi" ->
      s"""WITH RECURSIVE pts AS (
         |  SELECT ((event_id * 73) % 1000) / 10.0 AS x,
         |    ((event_id * 179) % 1000) / 10.0 AS y FROM events),
         |b AS (SELECT CAST(CEIL((MAX(x) - MIN(x)) / 10.0) AS BIGINT)
         |               AS cols_,
         |             CAST(CEIL((MAX(y) - MIN(y)) / 10.0) AS BIGINT)
         |               AS rows_ FROM pts),
         |cells AS (SELECT cx, cy FROM b,
         |  LATERAL (SELECT unnest(generate_series(0, b.cols_ - 1)) AS cx) u,
         |  LATERAL (SELECT unnest(generate_series(0, b.rows_ - 1)) AS cy) v),
         |edges AS (
         |  SELECT c.cx, c.cy, n.dcx, n.dcy,
         |         1 + (n.dcx * 31 + n.dcy * 17) % 5 AS w
         |  FROM cells c, b,
         |  LATERAL (SELECT unnest([
         |    {'dcx': c.cx + 1, 'dcy': c.cy},
         |    {'dcx': c.cx - 1, 'dcy': c.cy},
         |    {'dcx': c.cx, 'dcy': c.cy + 1},
         |    {'dcx': c.cx, 'dcy': c.cy - 1}]) AS n) t
         |  WHERE n.dcx >= 0 AND n.dcx < b.cols_
         |    AND n.dcy >= 0 AND n.dcy < b.rows_),
         |walk(cx, cy, d) AS (
         |  SELECT s.scx, s.scy, CAST(0 AS BIGINT) FROM b,
         |  LATERAL (SELECT unnest([
         |    {'scx': b.cols_ // 2, 'scy': b.rows_ // 2},
         |    {'scx': CAST(0 AS BIGINT), 'scy': CAST(0 AS BIGINT)},
         |    {'scx': b.cols_ - 1, 'scy': CAST(0 AS BIGINT)},
         |    {'scx': CAST(0 AS BIGINT), 'scy': b.rows_ - 1},
         |    {'scx': b.cols_ - 1, 'scy': b.rows_ - 1}]) AS s) t
         |  UNION
         |  SELECT e.dcx, e.dcy, w.d + e.w FROM walk w
         |  JOIN edges e ON e.cx = w.cx AND e.cy = w.cy
         |  WHERE w.d + e.w <= 200)
         |SELECT cx, cy, MIN(d) AS tt_min, MIN(d) // 10 AS band
         |FROM walk GROUP BY cx, cy""".stripMargin,

    // Single-source shortest path as a recursive CTE: UNION (distinct)
    // bounds the state space to (cell, distance) pairs; the 200-minute
    // cap only prunes walks already beaten (any monotone center-to-cell
    // path costs <= 5*(cols+rows) = 100), so MIN(d) is the true distance.
    "q_isochrone_bfs" ->
      s"""WITH RECURSIVE pts AS (
         |  SELECT ((event_id * 73) % 1000) / 10.0 AS x,
         |    ((event_id * 179) % 1000) / 10.0 AS y FROM events),
         |b AS (SELECT CAST(CEIL((MAX(x) - MIN(x)) / 10.0) AS BIGINT)
         |               AS cols_,
         |             CAST(CEIL((MAX(y) - MIN(y)) / 10.0) AS BIGINT)
         |               AS rows_ FROM pts),
         |cells AS (SELECT cx, cy FROM b,
         |  LATERAL (SELECT unnest(generate_series(0, b.cols_ - 1)) AS cx) u,
         |  LATERAL (SELECT unnest(generate_series(0, b.rows_ - 1)) AS cy) v),
         |edges AS (
         |  SELECT c.cx, c.cy, n.dcx, n.dcy,
         |         1 + (n.dcx * 31 + n.dcy * 17) % 5 AS w
         |  FROM cells c, b,
         |  LATERAL (SELECT unnest([
         |    {'dcx': c.cx + 1, 'dcy': c.cy},
         |    {'dcx': c.cx - 1, 'dcy': c.cy},
         |    {'dcx': c.cx, 'dcy': c.cy + 1},
         |    {'dcx': c.cx, 'dcy': c.cy - 1}]) AS n) t
         |  WHERE n.dcx >= 0 AND n.dcx < b.cols_
         |    AND n.dcy >= 0 AND n.dcy < b.rows_),
         |walk(cx, cy, d) AS (
         |  SELECT b.cols_ // 2, b.rows_ // 2, CAST(0 AS BIGINT) FROM b
         |  UNION
         |  SELECT e.dcx, e.dcy, w.d + e.w FROM walk w
         |  JOIN edges e ON e.cx = w.cx AND e.cy = w.cy
         |  WHERE w.d + e.w <= 200)
         |SELECT cx, cy, MIN(d) AS tt_min, MIN(d) // 10 AS band
         |FROM walk GROUP BY cx, cy""".stripMargin,

    "q_isochrone" ->
      s"""WITH pts AS (SELECT ((event_id * 73) % 1000) / 10.0 AS x,
         |  ((event_id * 179) % 1000) / 10.0 AS y FROM events),
         |$boundsCte
         |SELECT cx, cy,
         |  ROUND((ABS(b.xmin + (cx + 0.5) * 10.0 - (b.xmin + b.xmax) / 2.0)
         |       + ABS(b.ymin + (cy + 0.5) * 10.0 - (b.ymin + b.ymax) / 2.0))
         |      / 1.2
         |      + CAST((cx * 31 + cy * 17) % 7 AS DOUBLE), 4) AS tt_min,
         |  CAST(FLOOR(ROUND((ABS(b.xmin + (cx + 0.5) * 10.0
         |         - (b.xmin + b.xmax) / 2.0)
         |       + ABS(b.ymin + (cy + 0.5) * 10.0 - (b.ymin + b.ymax) / 2.0))
         |      / 1.2
         |      + CAST((cx * 31 + cy * 17) % 7 AS DOUBLE), 4) / 10.0)
         |    AS BIGINT) AS band
         |FROM b,
         |LATERAL (SELECT unnest(generate_series(0, b.cols_ - 1)) AS cx) u,
         |LATERAL (SELECT unnest(generate_series(0, b.rows_ - 1)) AS cy) v""".stripMargin)
}
