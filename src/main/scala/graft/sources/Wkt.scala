package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** WKT geometry-column source support (reference: read_spatialite,
  * gpd_lite_toolbox/core.py:423-463 — geometry from a spatialite DB).
  *
  * Spark-first re-expression: geometry arrives as a WKT string column in
  * any Spark-readable source (parquet/csv/json/jdbc); these parsers turn
  * it into the engine's columnar geometry model (struct / array<struct>)
  * with pure Catalyst expressions — regexp + split + transform, all
  * codegen'd, no row-at-a-time driver parsing.
  */
object Wkt {

  /** 'POINT (x y)' -> struct<x:double, y:double>. */
  def parsePoint(wkt: Column): Column = struct(
    regexp_extract(wkt, "POINT \\(([-0-9.]+) ([-0-9.]+)\\)", 1)
      .cast("double").as("x"),
    regexp_extract(wkt, "POINT \\(([-0-9.]+) ([-0-9.]+)\\)", 2)
      .cast("double").as("y"))

  /** 'LINESTRING (x y, x y, ...)' -> array<struct<x:double, y:double>>. */
  def parseLineString(wkt: Column): Column =
    coords(regexp_extract(wkt, "LINESTRING \\((.+)\\)", 1))

  /** Single-ring 'POLYGON ((x y, ...))' -> array<struct<x,y>>. */
  def parsePolygon(wkt: Column): Column =
    coords(regexp_extract(wkt, "POLYGON \\(\\((.+)\\)\\)", 1))

  /** Every ring of a 'POLYGON ((outer), (hole), ...)' or a
    * 'MULTIPOLYGON (((outer), (hole)), ((outer)), ...)' ->
    * array<array<struct<x:double, y:double>>> — the SURVEY §1 multi-part
    * geometry model. Each innermost parenthesized group is one ring, in
    * document order (a POLYGON's outer ring first, then its holes; a
    * MULTIPOLYGON's parts left to right). Pure regexp + split + nested
    * transform — codegen'd, no driver parsing. */
  def parseRings(wkt: Column): Column =
    transform(
      regexp_extract_all(wkt, lit("\\(([^()]+)\\)"), lit(1)),
      ring => coords(ring))

  /** 'x y, x y, ...' -> array<struct<x:double, y:double>> — the one
    * coordinate-list parser behind every ring and line above. */
  private def coords(list: Column): Column =
    transform(split(list, ",\\s*"), p => struct(
      split(trim(p), " ")(0).cast("double").as("x"),
      split(trim(p), " ")(1).cast("double").as("y")))

  /** array<struct<x,y>> -> '(x y, x y, ...)' — one WKT ring body. */
  def toWktRing(ring: Column): Column =
    concat(lit("("),
      concat_ws(", ", transform(ring, p =>
        concat(p("x").cast("string"), lit(" "), p("y").cast("string")))),
      lit(")"))

  /** struct<x,y> -> 'POINT (x y)'. */
  def toWktPoint(x: Column, y: Column): Column =
    concat(lit("POINT ("), x.cast("string"), lit(" "),
      y.cast("string"), lit(")"))
}
