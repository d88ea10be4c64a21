package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Snap each point to the nearest target feature within a search frame.
  *
  * Reference: gpd_lite_toolbox/core.py:320-386 (`snap_to_nearest`) — per-point
  * rtree loop with a progressively widened search frame, snapping to the
  * nearest vertex of the nearest target. Semantics preserved here: nearest
  * target within `maxSearchframe`, untouched if none (the progressive
  * widening is an rtree artifact, not a semantic).
  *
  * Spark-first design: grid-bucketed nearest-neighbor join. Targets are
  * replicated into their 3x3 cell neighborhood (cell size = max search
  * frame), points shuffle once on their cell id, and the per-point argmin
  * is a deterministic bounded-heap aggregate (TopKAgg k=1) — ties break
  * on target id. Cost is O(points + 9*targets) through one shuffle; at
  * 100 TB the replication factor stays 9 regardless of data size, and a
  * small target layer is broadcast by AQE instead of shuffled.
  */
object Snap {

  /** @param pts     point layer: id, x, y
    * @param targets target point layer: tid, tx, ty
    * @return one row per input point: id, x, y (possibly moved), tid
    *         (nullable: null = nothing within frame), snapped flag
    */
  def apply(pts: DataFrame, targets: DataFrame,
            maxSearchframe: Double): DataFrame = {
    val g = maxSearchframe
    val d2max = maxSearchframe * maxSearchframe

    val cands = targets.select(
      col("tid"), col("tx"), col("ty"),
      explode(sequence(floor(col("tx") / g) - 1, floor(col("tx") / g) + 1)).as("cx"))
      .select(col("tid"), col("tx"), col("ty"), col("cx"),
        explode(sequence(floor(col("ty") / g) - 1, floor(col("ty") / g) + 1)).as("cy"))

    val bucketed = pts
      .withColumn("cx", floor(col("x") / g))
      .withColumn("cy", floor(col("y") / g))

    val d2 = (col("x") - col("tx")) * (col("x") - col("tx")) +
             (col("y") - col("ty")) * (col("y") - col("ty"))

    // Argmin as the bounded-heap TopKAgg (k=1), not min(struct(...)):
    // a struct-typed min buffer can't live in a HashAggregate, so the
    // plan silently degraded to SortAggregate — SORTING the full
    // candidate stream (points x 3x3-cell targets) in every map task.
    // The heap aggregate is ObjectHashAggregate with a compiled input
    // projection: O(1) per candidate, map-side combine intact. The
    // nearest target's coordinates come back via a unique-key join on
    // tid (tid determines tx/ty, so ordering by (d2, tid) IS ordering
    // by (d2, tid, tx, ty) — tie-break semantics unchanged).
    val best = bucketed.join(cands, Seq("cx", "cy"))
      .withColumn("d2", d2)
      .filter(col("d2") <= d2max)
      .groupBy(col("id"))
      .agg(graft.functions.TopKAgg(col("d2"), col("tid"), lit(0L), 1)
        .as("beam"))
      .select(col("id"), col("beam").getItem(0).getField("tie").as("tid"))
      // Unlike the old min(struct(d2,tid,tx,ty)) form, this join-back
      // assumes tid uniquely identifies a target row; a layer with
      // duplicate tids would otherwise multiply output rows per snapped
      // point. The dedup picks the lexicographic-min (tx, ty) pair per
      // tid — DETERMINISTIC even on malformed layers, where a bare
      // dropDuplicates("tid") keeps an arbitrary row per run. struct-min
      // forces SortAggregate, but only over the SMALL target table (the
      // hot point×candidate aggregate above stays on the heap path).
      .join(targets.groupBy("tid")
        .agg(min(struct(col("tx"), col("ty"))).as("b"))
        .select(col("tid"), col("b.tx").as("bx"), col("b.ty").as("by")),
        Seq("tid"))

    pts.join(best, Seq("id"), "left")
      .select(
        col("id"),
        coalesce(col("bx"), col("x")).as("x"),
        coalesce(col("by"), col("y")).as("y"),
        col("tid"),
        col("tid").isNotNull.as("snapped"))
  }
}
