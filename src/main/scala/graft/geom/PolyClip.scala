package graft.geom

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Polygon clipping against a CONCAVE clip polygon given as convex
  * parts. The reference's shapely `intersection` handles arbitrary pairs
  * (gpd_lite_toolbox/utils.py:188-211, core.py:257-282); the native
  * [[SutherlandHodgman]] kernel covers any subject x a convex clip, and
  * this composes it over a decomposition.
  */
object PolyClip {

  /** Intersection area of subject x a CONCAVE clip polygon given as an
    * array of CONVEX parts with disjoint interiors (the standard
    * decompose-once-reuse path for non-convex zones; any simple polygon
    * admits such a decomposition). Sum of per-part native S-H areas —
    * parts tile the clip polygon, so areas add exactly. Returns the RAW
    * (unrounded) area; round once at the end. */
  def clipAreaConvexParts(subject: Column, parts: Column): Column =
    aggregate(parts, lit(0.0),
      (acc, ring) => acc + PolygonClipArea(subject, ring))
}
