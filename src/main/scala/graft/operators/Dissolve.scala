package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dissolve (geometric union by key) and multi/single part conversion.
  *
  * Reference: gpd_lite_toolbox/core.py:257-282 (`dissolve`: pandas groupby +
  * shapely unary_union), core.py:285-317 (`multi_to_single`: explode parts),
  * core.py:389-420 (`dumb_multi_to_single`: first part only).
  *
  * Spark-first union: unary_union of rectilinear parts is computed by
  * boundary-edge cancellation — every part contributes its directed boundary
  * edges; within a dissolve group, an edge shared by two parts appears twice
  * and cancels; the union's boundary is exactly the edges appearing once.
  * That makes dissolve TWO groupBys (edges, then groups) — fully
  * distributed, no geometry library, no driver loop, and the same plan holds
  * with billions of parts. Output per group: part count, union area, union
  * perimeter (the quantities the reference's downstream consumers read).
  */
object Dissolve {

  /** The box edges that survive cancellation within their key: each box
    * (x0, y0, x1, y1) contributes its 4 edges, normalized to
    * (ex0, ey0, ex1, ey1) key order, and an edge two boxes of one key
    * share appears twice and cancels. Rows (key, e, n = 1). */
  private def survivingEdges(boxes: DataFrame, key: Column, x0: Column,
                             y0: Column, x1: Column, y1: Column): DataFrame = {
    def edge(ax: Column, ay: Column, bx: Column, by: Column) =
      struct(ax.as("ex0"), ay.as("ey0"), bx.as("ex1"), by.as("ey1"))
    boxes.select(key.as("key"), explode(array(
        edge(x0, y0, x1, y0), edge(x0, y1, x1, y1),
        edge(x0, y0, x0, y1), edge(x1, y0, x1, y1))).as("e"))
      .groupBy(col("key"), col("e"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") === 1)
  }

  /** Vertical slabs of each group: the distinct x edges of its parts
    * (gid, x0, x1), each slab [x, xr) tagged with its coarse bucket bx. */
  private def xSlabs(parts: DataFrame, bucket: Double): DataFrame =
    parts
      .select(col("gid"), explode(array(col("x0"), col("x1"))).as("x"))
      .distinct()
      .withColumn("xr",
        lead("x", 1).over(Window.partitionBy("gid").orderBy("x")))
      .filter(col("xr").isNotNull)
      .withColumn("bx", floor(col("x") / bucket))

  /** Each part once per coarse x bucket it spans: a box covering slab
    * [x, xr) covers its left edge x, and the box's bucket range
    * [floor(x0/b), floor(x1/b)] always contains floor(x/b). */
  private def bucketCover(parts: DataFrame, bucket: Double): DataFrame =
    parts.withColumn("bx", explode(sequence(
      floor(col("x0") / bucket).cast("long"),
      floor(col("x1") / bucket).cast("long"))))

  /** Dissolve a box layer (pid, x0, y0, x1, y1) by `keyCol`.
    * Assumes parts within a group tile without partial overlap (as in the
    * reference's admin-boundary use cases); for layers with partial
    * overlap use `dissolveUnionArea`, which computes the exact union.
    */
  def apply(polys: DataFrame, keyCol: String): DataFrame = {
    val boundary = survivingEdges(polys, col(keyCol), col("x0"), col("y0"),
        col("x1"), col("y1"))
      .groupBy("key")
      .agg(round(sum(
        abs(col("e.ex1") - col("e.ex0")) + abs(col("e.ey1") - col("e.ey0"))), 4)
        .as("perimeter"))

    val stats = polys.groupBy(col(keyCol).as("key")).agg(
      count(lit(1)).as("n_parts"),
      round(sum((col("x1") - col("x0")) * (col("y1") - col("y0"))), 4).as("area"))

    stats.join(boundary, Seq("key"))
      .select(col("key").as(keyCol), col("n_parts"), col("area"), col("perimeter"))
  }

  /** The dissolved union's boundary GEOMETRY: the edges that survive
    * cancellation (appear once within their group), one row per boundary
    * edge. This is the actual union outline the reference's dissolve
    * returns as a (Multi)Polygon — here in the engine's edge-set form,
    * ready for rendering or downstream joins. */
  def boundaryEdges(polys: DataFrame, keyCol: String): DataFrame =
    survivingEdges(polys, col(keyCol), col("x0"), col("y0"), col("x1"),
        col("y1"))
      .select(col("key").as(keyCol),
        col("e.ex0").as("ex0"), col("e.ey0").as("ey0"),
        col("e.ex1").as("ex1"), col("e.ey1").as("ey1"))

  /** The dissolved union's MERGED RING GEOMETRY: the cancelled boundary
    * edge set ordered into closed ring vertex sequences (rightmost-turn
    * walk, see [[graft.geom.RingAssembly]]) — the (Multi)Polygon return
    * value of the reference's dissolve (core.py:257-282, shapely
    * `unary_union`), one row per ring vertex in walk order.
    *
    * Plan shape: the edge-cancellation groupBy (distributed, billions of
    * parts fine), then ONE row per dissolve group through collect_list —
    * per-group boundary complexity is the reference's own per-group
    * unary_union contract — then the row-local walk kernel and a
    * posexplode back to distributed vertex rows. */
  def dissolveRings(polys: DataFrame, keyCol: String): DataFrame =
    boundaryEdges(polys, keyCol)
      .groupBy(col(keyCol))
      .agg(collect_list(struct(
        col("ex0"), col("ey0"), col("ex1"), col("ey1"))).as("es"))
      .select(col(keyCol), explode(graft.geom.DissolveRings(col("es"))).as("v"))
      .select(col(keyCol), col("v.ring").as("ring"), col("v.vi").as("vi"),
        col("v.x").as("x"), col("v.y").as("y"))

  /** Overlap-safe dissolve: EXACT union area of overlapping axis-aligned
    * parts (gid, x0, y0, x1, y1) per group — the unary_union semantics
    * the edge-cancellation dissolve can't give when parts partially
    * overlap (reference core.py:276).
    *
    * Slab sweep, fully distributed: the distinct x edges of a group cut
    * it into vertical slabs; within a slab the union is a 1-D interval
    * union over the y ranges of the boxes covering it, computed with a
    * running-max window (classic merge-intervals, no driver state). The
    * slab-to-box match is bucketed by coarse x cells so the join is a
    * (gid, bucket) hash equi-join, not a per-group product; groups and
    * buckets partition independently, so the plan holds with millions of
    * groups. Per-row terms land on exact integer hundredths (coordinates
    * are integer tenths), so the final sums are exact long arithmetic —
    * order-independent across engines. */
  def dissolveUnionArea(parts: DataFrame, bucket: Double): DataFrame = {
    val sv = xSlabs(parts, bucket).join(bucketCover(parts, bucket),
        Seq("gid", "bx"))
      .filter(col("x0") <= col("x") && col("xr") <= col("x1"))
      .select(col("gid"), col("x"), col("xr"), col("y0"), col("y1"))
    val wy = Window.partitionBy("gid", "x").orderBy("y0", "y1")
      .rowsBetween(Window.unboundedPreceding, -1)
    val terms = sv
      .withColumn("pm", max("y1").over(wy))
      .withColumn("term", (col("xr") - col("x")) * greatest(lit(0.0),
        col("y1") - greatest(col("y0"), coalesce(col("pm"), col("y0")))))
    val union = terms.groupBy("gid")
      .agg(round(sum(round(col("term") * 100.0, 0).cast("long")) / 100.0, 2)
        .as("union_area"))
    parts.groupBy("gid")
      .agg(count(lit(1)).as("n_parts"),
        round(sum(round((col("x1") - col("x0")) * (col("y1") - col("y0"))
          * 100.0, 0).cast("long")) / 100.0, 2).as("sum_area"))
      .join(union, Seq("gid"), "left")
      .select(col("gid"), col("n_parts"), col("sum_area"),
        coalesce(col("union_area"), lit(0.0)).as("union_area"))
  }

  /** Overlap-union RING GEOMETRY: the merged boundary rings of
    * overlapping axis-aligned parts — the (Multi)Polygon return value of
    * shapely `unary_union` (reference core.py:276) for the overlapping
    * case [[dissolveRings]] can't serve (partial overlaps don't cancel
    * edge-for-edge).
    *
    * Construction: per group, COORDINATE COMPRESSION — the distinct
    * x and y edges cut the group into grid cells (lead windows, no
    * driver state); a cell is covered iff some part contains it
    * (bucketed (gid, bx) equi-join, same trick as
    * [[dissolveUnionArea]]'s slab-to-box match, never a per-group
    * product); each covered cell emits its 4 edges; edges interior to
    * the covered region appear exactly twice (cells share complete
    * edges BY CONSTRUCTION — this is what makes cancellation valid
    * where raw part edges partially overlap) and cancel; the surviving
    * edges walk into rings with the same rightmost-turn kernel as
    * [[dissolveRings]]. Ring vertices land on the compressed grid, so
    * straight boundary runs carry their intermediate cell corners —
    * deterministic, and holes come out as separate (clockwise-walked)
    * rings for free.
    *
    * Scale: the grid is quadratic in per-group boundary complexity —
    * the same per-group contract as dissolveRings' collect_list; groups
    * partition independently, so the plan holds with millions of
    * groups. */
  def dissolveUnionRings(parts: DataFrame, bucket: Double): DataFrame = {
    val wy = Window.partitionBy("gid").orderBy("y")
    val ys = parts
      .select(col("gid"), explode(array(col("y0"), col("y1"))).as("y"))
      .distinct()
      .withColumn("yr", lead("y", 1).over(wy))
      .filter(col("yr").isNotNull)
    val cells = xSlabs(parts, bucket).join(ys, Seq("gid"))
    val cov = cells.join(bucketCover(parts, bucket), Seq("gid", "bx"))
      .filter(col("x0") <= col("x") && col("xr") <= col("x1")
        && col("y0") <= col("y") && col("yr") <= col("y1"))
      .select("gid", "x", "xr", "y", "yr").distinct()
    survivingEdges(cov, col("gid"), col("x"), col("y"), col("xr"), col("yr"))
      .groupBy("key")
      .agg(collect_list(struct(
        col("e.ex0").as("ex0"), col("e.ey0").as("ey0"),
        col("e.ex1").as("ex1"), col("e.ey1").as("ey1"))).as("es"))
      .select(col("key").as("gid"),
        explode(graft.geom.DissolveRings(col("es"))).as("v"))
      .select(col("gid"), col("v.ring").as("ring"), col("v.vi").as("vi"),
        col("v.x").as("x"), col("v.y").as("y"))
  }

  /** multi_to_single: explode an array-of-parts geometry column; every other
    * column is carried through (reference core.py:285-317). Parts are sorted
    * before exploding so output is deterministic. */
  def multiToSingle(gdf: DataFrame, partsCol: String): DataFrame =
    gdf.select(col("*"),
      posexplode(array_sort(col(partsCol))).as(Seq("part_idx", "part")))
      .drop(partsCol)

  /** dumb_multi_to_single: keep only the first part (reference core.py:389).
    */
  def dumbMultiToSingle(gdf: DataFrame, partsCol: String): DataFrame =
    gdf.withColumn("part", element_at(array_sort(col(partsCol)), 1))
      .drop(partsCol)
}
