package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GeoData, Graft}
import graft.geom.Geom
import graft.operators.Cartogram

/** Cartogram queries over the nation squares (SURVEY.md §2 rows 16-17).
  * Dougenik is iterative-FP → rows-only check; non-contiguous is closed
  * form → full SQL oracle.
  */
object CartogramQueries {

  /** Deterministic region value (population stand-in). */
  private def value = (col("pid") % 7 + 1) * 50

  private def polys(spark: SparkSession, dir: String): DataFrame =
    GeoData.polyNation(spark, dir)
      .select(col("pid"), value.as("value"),
        Geom.rectRing(col("x0"), col("y0"), col("x1"), col("y1")).as("ring"))

  def qCartogram(spark: SparkSession, dir: String): DataFrame =
    Graft.transformCartogram(polys(spark, dir), iterations = 2)

  /** The displaced rings themselves after 2 Dougenik iterations —
    * transform_cartogram's returned geometry (core.py:199-231). */
  def qCartogramRings(spark: SparkSession, dir: String): DataFrame =
    Cartogram.dougenikRings(polys(spark, dir), iterations = 2)

  def qNcCartogram(spark: SparkSession, dir: String): DataFrame =
    Graft.nonContiguousCartogram(
      GeoData.polyNation(spark, dir)
        .select(col("pid"), value.as("value"),
          col("x0"), col("y0"), col("x1"), col("y1")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cartogram" -> (qCartogram _),
    "q_cartogram_rings" -> (qCartogramRings _),
    "q_nc_cartogram" -> (qNcCartogram _))

  /** DuckDB twin of two Dougenik iterations. Vertices, stats, forces and
    * displacement sums mirror Cartogram.dougenikIter expression-for-
    * expression; the unordered-FP sums differ from Spark's fold order
    * only at last-ulp, absorbed by the round-4 outputs (the force branch
    * is continuous at d = radius, so branch flips are harmless). */
  /** Shared WITH-prefix ending at CTE `v2` (the displaced vertices after
    * two iterations) — used by the summary AND the ring-vertex oracles. */
  private lazy val dougenikCtes: String = {
    def iteration(vin: String, vout: String, n: Int): String =
      s"""st$n AS (
         |  SELECT a.pid,
         |    ABS(SUM(a.x * b.y - b.x * a.y)) / 2.0 AS area
         |  FROM $vin a JOIN $vin b ON b.pid = a.pid AND b.seq = a.seq + 1
         |  GROUP BY a.pid),
         |ctr$n AS (
         |  SELECT pid, value, SUM(x) / 5.0 AS cx, SUM(y) / 5.0 AS cy
         |  FROM $vin GROUP BY pid, value),
         |tot$n AS (
         |  SELECT SUM(st$n.area) AS t_area,
         |         CAST(SUM(ctr$n.value) AS BIGINT) AS t_val
         |  FROM st$n JOIN ctr$n ON st$n.pid = ctr$n.pid),
         |fr$n AS (
         |  SELECT c.pid, c.cx AS fx, c.cy AS fy,
         |    SQRT(s.area / PI()) AS radius,
         |    SQRT((CAST(c.value AS DOUBLE) / t.t_val * t.t_area) / PI())
         |      - SQRT(s.area / PI()) AS mass,
         |    GREATEST(s.area, CAST(c.value AS DOUBLE) / t.t_val * t.t_area)
         |      / GREATEST(LEAST(s.area,
         |          CAST(c.value AS DOUBLE) / t.t_val * t.t_area), 1e-9)
         |      AS size_err
         |  FROM ctr$n c JOIN st$n s ON s.pid = c.pid, tot$n t),
         |rf$n AS (SELECT 1.0 / (1.0 + AVG(size_err)) AS frf FROM fr$n),
         |$vout AS (
         |  SELECT v.pid, v.value, v.seq,
         |    v.x + SUM(
         |      (CASE WHEN GREATEST(SQRT((v.x - f.fx) * (v.x - f.fx)
         |                 + (v.y - f.fy) * (v.y - f.fy)), 1e-9) > f.radius
         |        THEN f.mass * f.radius
         |          / GREATEST(SQRT((v.x - f.fx) * (v.x - f.fx)
         |              + (v.y - f.fy) * (v.y - f.fy)), 1e-9)
         |        ELSE f.mass
         |          * (GREATEST(SQRT((v.x - f.fx) * (v.x - f.fx)
         |               + (v.y - f.fy) * (v.y - f.fy)), 1e-9)
         |             * GREATEST(SQRT((v.x - f.fx) * (v.x - f.fx)
         |               + (v.y - f.fy) * (v.y - f.fy)), 1e-9))
         |          / (f.radius * f.radius)
         |          * (4.0 - 3.0 * GREATEST(SQRT((v.x - f.fx) * (v.x - f.fx)
         |               + (v.y - f.fy) * (v.y - f.fy)), 1e-9) / f.radius)
         |       END)
         |      * ((v.x - f.fx) / GREATEST(SQRT((v.x - f.fx) * (v.x - f.fx)
         |           + (v.y - f.fy) * (v.y - f.fy)), 1e-9))
         |      * r.frf) AS x,
         |    v.y + SUM(
         |      (CASE WHEN GREATEST(SQRT((v.x - f.fx) * (v.x - f.fx)
         |                 + (v.y - f.fy) * (v.y - f.fy)), 1e-9) > f.radius
         |        THEN f.mass * f.radius
         |          / GREATEST(SQRT((v.x - f.fx) * (v.x - f.fx)
         |              + (v.y - f.fy) * (v.y - f.fy)), 1e-9)
         |        ELSE f.mass
         |          * (GREATEST(SQRT((v.x - f.fx) * (v.x - f.fx)
         |               + (v.y - f.fy) * (v.y - f.fy)), 1e-9)
         |             * GREATEST(SQRT((v.x - f.fx) * (v.x - f.fx)
         |               + (v.y - f.fy) * (v.y - f.fy)), 1e-9))
         |          / (f.radius * f.radius)
         |          * (4.0 - 3.0 * GREATEST(SQRT((v.x - f.fx) * (v.x - f.fx)
         |               + (v.y - f.fy) * (v.y - f.fy)), 1e-9) / f.radius)
         |       END)
         |      * ((v.y - f.fy) / GREATEST(SQRT((v.x - f.fx) * (v.x - f.fx)
         |           + (v.y - f.fy) * (v.y - f.fy)), 1e-9))
         |      * r.frf) AS y
         |  FROM $vin v, fr$n f, rf$n r
         |  GROUP BY v.pid, v.value, v.seq, v.x, v.y)""".stripMargin
    s"""WITH poly AS (${GeoData.polyNationSql}),
       |v0 AS (
       |  SELECT pid, (pid % 7 + 1) * 50 AS value, u.seq,
       |    CASE u.seq WHEN 0 THEN x0 WHEN 1 THEN x1 WHEN 2 THEN x1
       |               WHEN 3 THEN x0 ELSE x0 END AS x,
       |    CASE u.seq WHEN 0 THEN y0 WHEN 1 THEN y0 WHEN 2 THEN y1
       |               WHEN 3 THEN y1 ELSE y0 END AS y
       |  FROM poly, (SELECT unnest(generate_series(0, 4)) AS seq) u),
       |${iteration("v0", "v1", 1)},
       |${iteration("v1", "v2", 2)}""".stripMargin
  }

  private lazy val dougenikOracle: String =
    s"""$dougenikCtes,
       |fin AS (
       |  SELECT a.pid,
       |    ABS(SUM(a.x * b.y - b.x * a.y)) / 2.0 AS area
       |  FROM v2 a JOIN v2 b ON b.pid = a.pid AND b.seq = a.seq + 1
       |  GROUP BY a.pid)
       |SELECT v2.pid, CAST(v2.value AS BIGINT) AS value,
       |  ROUND(fin.area, 4) AS new_area,
       |  ROUND(v2.x, 4) AS v0x, ROUND(v2.y, 4) AS v0y
       |FROM v2 JOIN fin ON fin.pid = v2.pid
       |WHERE v2.seq = 0""".stripMargin

  /** DuckDB twin of the displaced-ring emission: all of v2's vertices in
    * ring order, round-4 with the -0.0 collapse. */
  private lazy val dougenikRingsOracle: String =
    s"""$dougenikCtes
       |SELECT pid, CAST(value AS BIGINT) AS value, CAST(seq AS INT) AS seq,
       |  ROUND(x, 4) + 0.0 AS x, ROUND(y, 4) + 0.0 AS y
       |FROM v2""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_cartogram" -> dougenikOracle,
    "q_cartogram_rings" -> dougenikRingsOracle,
    "q_nc_cartogram" ->
      s"""WITH poly AS (${GeoData.polyNationSql}),
         |r AS (SELECT pid, (pid % 7 + 1) * 50 AS value, x0, y0, x1, y1,
         |        (x1 - x0) * (y1 - y0) AS area,
         |        CAST((pid % 7 + 1) * 50 AS DOUBLE) / ((x1 - x0) * (y1 - y0))
         |          AS ratio
         |      FROM poly),
         |s AS (SELECT *, sqrt(ratio / MAX(ratio) OVER ()) AS s,
         |        (x0 + x1) / 2.0 AS cx, (y0 + y1) / 2.0 AS cy
         |      FROM r)
         |SELECT pid, value, ROUND(s, 4) AS scale,
         |  ROUND(cx + (x0 - cx) * s, 4) AS nx0,
         |  ROUND(cy + (y0 - cy) * s, 4) AS ny0,
         |  ROUND(cx + (x1 - cx) * s, 4) AS nx1,
         |  ROUND(cy + (y1 - cy) * s, 4) AS ny1
         |FROM s""".stripMargin)
}
