package graft.geom

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Planar geometry as Catalyst expression compositions.
  *
  * Geometry model: a point is a struct<x:double,y:double>; a line/ring is an
  * array of points; a multi-part geometry is an array of rings. Everything
  * here composes built-in higher-order functions (transform / aggregate /
  * zip_with / filter) so the whole pipeline stays inside Catalyst — codegen'd,
  * prunable, and distributed — instead of row-at-a-time geometry objects as
  * in the reference (shapely calls in Python loops, e.g.
  * gpd_lite_toolbox/core.py:251-254, :104-131).
  */
object Geom {

  def pt(x: Column, y: Column): Column = struct(x.as("x"), y.as("y"))

  /** Euclidean distance between two points (as x/y column pairs). */
  def dist(x1: Column, y1: Column, x2: Column, y2: Column): Column =
    sqrt(pow(x1 - x2, 2) + pow(y1 - y2, 2))

  /** Haversine distance in km between (lat, lon) pairs in degrees.
    * Reference: gpd_lite_toolbox/utils.py:83-91 (same cos-composition form).
    */
  def haversineKm(lat1: Column, lon1: Column,
                  lat2: Column, lon2: Column): Column = {
    val rad = lit(0.0174532925)
    val cosLatD = cos((lat1 - lat2) * rad)
    val cosLonD = cos((lon1 - lon2) * rad)
    lit(6367) * acos(cosLatD - cos(lat1 * rad) * cos(lat2 * rad) * (lit(1) - cosLonD))
  }

  // ----------------------------------------------------- line (array) math

  /** Consecutive-vertex segments of a line: array of (p1, p2) structs. */
  def segments(pts: Column): Column =
    zip_with(slice(pts, lit(1), size(pts) - 1),
             slice(pts, lit(2), size(pts) - 1),
             (a, b) => struct(a.as("p1"), b.as("p2")))

  /** Total length of a polyline. */
  def lineLength(pts: Column): Column =
    aggregate(segments(pts), lit(0.0),
      (acc, s) => acc + sqrt(
        pow(s("p1")("x") - s("p2")("x"), 2) +
        pow(s("p1")("y") - s("p2")("y"), 2)))

  /** Centroid of a line's vertices (the reference's mparams uses the
    * shapely centroid; vertex mean matches it for regularly sampled lines
    * and is what its KMeans descriptor actually needs — utils.py:60-74). */
  def vertexMean(pts: Column): Column = {
    val n = size(pts).cast("double")
    struct(
      (aggregate(pts, lit(0.0), (acc, p) => acc + p("x")) / n).as("x"),
      (aggregate(pts, lit(0.0), (acc, p) => acc + p("y")) / n).as("y"))
  }

  /** Orientation (degrees) of the first->last chord of a line, as in the
    * reference's mparams / bearing_180 (utils.py:60-104). */
  def bearing(pts: Column): Column = {
    val first = element_at(pts, 1)
    val last = element_at(pts, -1)
    lit(180.0) + atan2(first("x") - last("x"), first("y") - last("y")) * lit(180.0 / math.Pi)
  }

  // ----------------------------------------------------------- ring math

  /** Signed shoelace area of a ring (array<struct<x,y>>, closed or open). */
  def ringArea(ring: Column): Column = {
    val closed = when(element_at(ring, 1) === element_at(ring, -1), ring)
      .otherwise(concat(ring, array(element_at(ring, 1))))
    abs(aggregate(segments(closed), lit(0.0),
      (acc, s) => acc + (s("p1")("x") * s("p2")("y") - s("p2")("x") * s("p1")("y")))) / 2.0
  }

  /** Perimeter of a ring (auto-closes). */
  def ringPerimeter(ring: Column): Column = {
    val closed = when(element_at(ring, 1) === element_at(ring, -1), ring)
      .otherwise(concat(ring, array(element_at(ring, 1))))
    lineLength(closed)
  }

  /** Rectangle from corner columns (a 5-vertex closed ring). */
  def rectRing(x0: Column, y0: Column, x1: Column, y1: Column): Column =
    array(pt(x0, y0), pt(x1, y0), pt(x1, y1), pt(x0, y1), pt(x0, y0))
}
