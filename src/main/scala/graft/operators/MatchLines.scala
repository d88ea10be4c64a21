package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Line-matching (reference: match_lines, gpd_lite_toolbox/core.py:26-101;
  * cheap directed hausdorff core.py:104-131; descriptor clustering
  * utils.py:60-74).
  *
  * The reference compares every line of gdf1 against every line of gdf2
  * (O(n^2) shapely loops). Here candidates are generated by an equi-join on
  * integer centroid grid cells (3x3 neighborhood via a 9-way offset
  * explode on the probe side), so the shuffle is O(n·k) and the join is a
  * plain hash join — the scale story for 100 TB line layers. Hausdorff is
  * a max-of-min fold over vertex arrays, fully codegen'd.
  *
  * Cells are computed in EXACT integer arithmetic (sum of integer tenths
  * DIV n·cell) so engine and oracle agree bit-for-bit on bucketing.
  */
object MatchLines {

  /** The 3x3 cell neighborhood, exploded on the probe side of both
    * matchers. */
  private val offsets = array((-1 to 1).flatMap(dx => (-1 to 1).map(dy =>
    struct(lit(dx).as("dx"), lit(dy).as("dy")))): _*)

  /** Lines with integer-tenth vertex arrays and exact integer centroid
    * cells. Input: rows (lid, seq, xi, yi) with xi/yi integer tenths.
    *
    * TUNING (measured, r3 scale check): per-cell candidate counts
    * grow with line DENSITY, so at fixed cellTenths a 4x-denser layer
    * costs ~16x in candidates (observed 28x wall-clock); halving the
    * cell edge restored ~2x-of-linear (10.8s vs 136s). Rule: choose
    * cellTenths proportional to domain_edge / sqrt(n_lines) so expected
    * lines-per-cell stays constant as the layer grows. */
  def linesWithCells(vertices: DataFrame, cellTenths: Int): DataFrame =
    withCells(linesAgg(vertices), cellTenths)

  /** The cell-independent half of [[linesWithCells]]: per-line vertex
    * arrays and exact integer centroid sums, no grid assignment yet —
    * so the density-adaptive cell size can be derived from THIS table
    * (one tiny agg over lines, not a second corpus scan) before
    * [[withCells]] stamps the grid on. */
  def linesAgg(vertices: DataFrame): DataFrame =
    vertices
      .groupBy("lid")
      .agg(
        array_sort(collect_list(struct(col("seq"), col("xi"), col("yi"))))
          .as("vs"),
        count(lit(1)).as("n"),
        sum("xi").as("sx"),
        sum("yi").as("sy"))
      .select(col("lid"),
        transform(col("vs"), v =>
          struct((v("xi") / lit(10.0)).as("x"), (v("yi") / lit(10.0)).as("y")))
          .as("pts"),
        col("n"), col("sx"), col("sy"))

  /** Stamp integer centroid grid cells onto a [[linesAgg]] table. */
  def withCells(lines: DataFrame, cellTenths: Int): DataFrame =
    lines.select(col("lid"), col("pts"), col("n"), col("sx"), col("sy"),
      expr(s"sx DIV (n * $cellTenths)").as("cx"),
      expr(s"sy DIV (n * $cellTenths)").as("cy"))

  /** Per-line shape descriptors computed DIRECTLY from the vertex table
    * (lid, seq, xi, yi integer tenths) — no vertex arrays, no
    * higher-order folds: one lag window for segment lengths, one
    * aggregation for everything else (min_by/max_by pick the first/last
    * vertex under the same (seq, xi, yi) order linesWithCells sorts
    * by). Descriptor VALUES match the array formulation to well below
    * the round-4 quantum used by every consumer (sums become unordered,
    * which the rounding discipline already absorbs — the DuckDB oracle
    * aggregates unordered too). Schema: (lid, cx, cy, lena-like cols as
    * len, brg, ctr struct). */
  def descriptorsFromVertices(vertices: DataFrame,
                              cellTenths: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lid").orderBy("seq", "xi", "yi")
    val ord = struct(col("seq"), col("xi"), col("yi"))
    vertices
      .select(col("lid"), col("seq"), col("xi"), col("yi"),
        (col("xi") / 10.0).as("x"), (col("yi") / 10.0).as("y"))
      .withColumn("px", lag("x", 1).over(w))
      .withColumn("py", lag("y", 1).over(w))
      .withColumn("slen", when(col("px").isNull, lit(0.0)).otherwise(
        sqrt((col("x") - col("px")) * (col("x") - col("px"))
          + (col("y") - col("py")) * (col("y") - col("py")))))
      .groupBy("lid")
      .agg(
        count(lit(1)).as("n"),
        sum("xi").as("sx"), sum("yi").as("sy"),
        sum("slen").as("len"),
        (sum("x") / count(lit(1))).as("ctrx"),
        (sum("y") / count(lit(1))).as("ctry"),
        min_by(col("x"), ord).as("fx"), min_by(col("y"), ord).as("fy"),
        max_by(col("x"), ord).as("lx"), max_by(col("y"), ord).as("ly"))
      .select(col("lid"),
        expr(s"sx DIV (n * $cellTenths)").as("cx"),
        expr(s"sy DIV (n * $cellTenths)").as("cy"),
        col("len"),
        (lit(180.0) + atan2(col("fx") - col("lx"), col("fy") - col("ly"))
          * (180.0 / math.Pi)).as("brg"),
        struct(col("ctrx").as("x"), col("ctry").as("y")).as("ctr"))
  }

  /** Density-adaptive cell size: choose cellTenths so the expected
    * number of lines per grid cell stays ~targetPerCell as the layer
    * grows — the tuning rule the scale probe validated (fixed cell at
    * 4x density cost 28x; density-matched cost 2.2x). One tiny
    * driver-side agg over an ALREADY-AGGREGATED [[linesAgg]] table
    * (centroid = sx/n exactly as the grid assignment uses), so wiring
    * auto-sizing into a query costs no extra corpus scan. The default
    * targetPerCell = 135 calibrates the candidate volume a beam-25
    * hausdorff probe wants: ~9 x 135 candidates per 3x3 neighborhood,
    * ~50x the beam — measured output-identical to the hand-tuned
    * cell = 30 at sf0.1 density, coarser (wider search, equal-or-more
    * matches) on sparser layers, finer as density grows so the
    * candidate join stays O(probes x 1200) at ANY corpus size. The
    * arithmetic (IEEE double divide/sqrt, floor(x + 0.5) rounding) is
    * engine-portable, so a SQL oracle can derive the identical cell. */
  def autoCellTenths(lines: DataFrame, targetPerCell: Double = 135.0,
                     minCellTenths: Int = 2): Int = {
    val cx = col("sx").cast("double") / col("n")
    val cy = col("sy").cast("double") / col("n")
    val r = lines
      .agg(count(lit(1)).as("n"),
        (greatest(max(cx) - min(cx), max(cy) - min(cy)) + 1)
          .as("extent"))
      .head()
    // empty layer: extent aggregates to NULL — any cell size works
    if (r.isNullAt(r.fieldIndex("extent"))) minCellTenths
    else {
      val n = math.max(r.getAs[Long]("n"), 1L)
      val extent = r.getAs[Double]("extent")
      math.max(minCellTenths,
        math.round(extent / math.sqrt(n / targetPerCell)).toInt)
    }
  }

  /** Directed+symmetric hausdorff over two point arrays — the native
    * codegen'd Catalyst expression (same bits as the lambda formulation
    * in GeomSpec.hausdorff; see HausdorffDistance for the equivalence note). */
  def hausdorff(a: Column, b: Column): Column =
    graft.geom.HausdorffDistance(a, b)

  /** Best hausdorff match in `target` for each line of `probe`, searching
    * the 3x3 centroid-cell neighborhood with two-phase beam pruning: a
    * cheap EXACT-integer centroid-distance proxy keeps only the `beam`
    * nearest candidates per probe, and the expensive hausdorff fold runs
    * on that beam only. This turns pairs x vertices^2 work into
    * pairs x O(1) + beam x vertices^2 — the difference between hours and
    * seconds on skewed centroid distributions (and the oracle mirrors the
    * same beam, so results are still bit-checked). Returns (la, lb, hd)
    * rounded to 4; ties resolve to the smallest lb. */
  def matchByHausdorff(probe: DataFrame, target: DataFrame,
                       beam: Int = 25,
                       limit: Option[Double] = None): DataFrame = {
    val probed = probe
      .select(col("lid").as("la"), col("n").as("na"),
        col("sx").as("sxa"), col("sy").as("sya"),
        col("cx"), col("cy"), explode(offsets).as("o"))
      .select(col("la"), col("na"), col("sxa"), col("sya"),
        (col("cx") + col("o.dx")).as("jx"), (col("cy") + col("o.dy")).as("jy"))
    // Target side pre-aggregated into PER-CELL DIGESTS: one row per
    // occupied centroid cell carrying the cell's (lb, nb, sxb, syb)
    // summaries. The candidate search then never materializes a row per
    // (probe, candidate) pair: each (probe, cell) join row collapses to
    // <= beam rows inside CellBeam's compiled array scan, and TopKAgg
    // only merges the <= 9 x beam per-cell winners. Identical selection
    // to the row-per-candidate join (top-k of a union = top-k of the
    // per-cell top-k's; same exact-integer proxy, same (proxy, lb)
    // tie-break), measured 14.2M -> ~0.5M aggregate input rows at sf0.1.
    // Digest size per cell = lines-per-cell x 32 B, bounded by the
    // density rule (linesWithCells TUNING note): cells are sized so the
    // expected count stays O(10), so a digest row is small at any
    // corpus size and the digest table shrinks by that same factor —
    // AQE broadcasts it when small, shuffles it when not.
    val digests = target
      .groupBy(col("cx").as("jx"), col("cy").as("jy"))
      .agg(collect_list(struct(
        col("lid").as("lb"), col("n").as("nb"),
        col("sx").as("sxb"), col("sy").as("syb"))).as("ts"))
    // localCheckpoint: the beam output is tiny (<= beam rows per probe,
    // two longs each) and feeds two vertex-attachment joins; the lineage
    // cut keeps the candidate join from re-running. Its LogicalRDD keeps
    // the origin plan's size estimate (Spark 4.1.2), so AQE shuffles
    // both attachments first and broadcasts the beam only afterwards.
    val beamed = probed.join(digests, Seq("jx", "jy"))
      .select(col("la"), graft.functions.CellBeam(col("ts"),
        col("na"), col("sxa"), col("sya"), beam).as("cb"))
      .groupBy("la")
      .agg(graft.functions.TopKArrAgg(col("cb"), beam).as("tk"))
      .select(col("la"), explode(col("tk.tie")).as("lb"))
      .localCheckpoint()
    val scored = beamed
      .join(probe.select(col("lid").as("la"), col("pts").as("pa")), "la")
      .join(target.select(col("lid").as("lb"), col("pts").as("pb")), "lb")
      .withColumn("hd", round(hausdorff(col("pa"), col("pb")), 4))
    // ARGMIN via the encoded-long min() (see matchByDescriptorTables for
    // the bounds/exactness argument — hd <= ~1.4e3 so quanta < 2^25, lb
    // < 2^38, decode quanta/10000.0 is the correctly-rounded double of
    // the same 4-decimal value): a codegen HashAggregate with map-side
    // combine, measured ~3x the k=1 object-hash TopKAgg. hd is NULL for
    // an empty vertex array: enc is then NULL, min() skips it, and a
    // probe whose every candidate is degenerate drops via the isNotNull
    // filter — the same contract the old NULLS-LAST window + post-filter
    // enforced.
    val enc = round(col("hd") * 10000, 0).cast("long") * lit(1L << 38) +
      col("lb")
    val best = scored
      .groupBy("la").agg(min(enc).as("e"))
      .filter(col("e").isNotNull)
      .select(col("la"),
        col("e").bitwiseAND(lit((1L << 38) - 1)).as("lb"),
        (shiftright(col("e"), 38).cast("double") / 10000).as("hd"))
    // reference `limit` semantics (core.py:26): drop matches beyond the cap
    limit.fold(best)(mx => best.filter(col("hd") <= mx))
  }

  /** K-means clustering of lines in descriptor space — the reference's
    * actual cluster-matching mechanism (core.py:70: sklearn KMeans over
    * per-line shape descriptors from utils.py:60-74). Descriptor vector:
    * (centroid x, centroid y, length, bearing), each rounded to 4 BEFORE
    * clustering (absorbs last-ulp atan2/unordered-sum differences).
    * Seeds are the k smallest lids' descriptors (cluster label = seed
    * lid); `iters` rounds of the shared [[Lloyd]] trainer, whose
    * assignment is the native IvfDistances kernel at dim = 4 — a
    * map-only projection with the k x 4 centroid matrix inside the
    * expression, so the plan is linear in lines at any scale. The output
    * carries only (lid, cluster) — never centroid-derived floats, whose
    * unordered averages are not bit-portable. */
  def kmeansDescriptors(lines: DataFrame, k: Int, iters: Int): DataFrame = {
    import graft.geom.Geom
    // eager checkpoint: the seed collect, every Lloyd round and the
    // returned assignment read the descriptors, so the vertex-array build
    // and the interpreted descriptor folds run once and the returned plan
    // is a map-only projection (a released cache would make it re-run
    // both)
    val desc = lines.select(col("lid"), array(
      round(Geom.vertexMean(col("pts"))("x"), 4),
      round(Geom.vertexMean(col("pts"))("y"), 4),
      round(Geom.lineLength(col("pts")), 4),
      round(Geom.bearing(col("pts")), 4)).as("e"))
      .localCheckpoint()
    val seeds = Lloyd.smallestIds(desc, "lid", col("e"), k)
    val cents = Lloyd.train(desc, col("e"), IndexedSeq(seeds), 4, iters).head
    desc.select(col("lid"), Lloyd.nearest(col("e"), cents).as("cluster"))
  }

  /** Descriptor-space matcher (reference mparams/cluster path): centroid,
    * vertex count, length and first->last bearing as the feature vector;
    * nearest target within the 3x3 centroid-cell neighborhood (same
    * probe-side offset explode as matchByHausdorff, so a best target
    * sitting just across a cell boundary is still found — the join stays
    * a plain hash equi-join). */
  def matchByDescriptors(probe: DataFrame, target: DataFrame): DataFrame = {
    import graft.geom.Geom
    def desc(df: DataFrame): DataFrame =
      df.select(col("lid"), col("cx"), col("cy"),
        Geom.lineLength(col("pts")).as("len"),
        Geom.bearing(col("pts")).as("brg"),
        Geom.vertexMean(col("pts")).as("ctr"))
    matchByDescriptorTables(desc(probe), desc(target))
  }

  /** Same matcher over PRE-COMPUTED descriptor tables (lid, cx, cy,
    * len, brg, ctr) — pair with `descriptorsFromVertices` to skip
    * building vertex arrays entirely when only descriptors are needed. */
  def matchByDescriptorTables(probeDesc: DataFrame,
                              targetDesc: DataFrame): DataFrame = {
    // each (la, lb) pair arises in exactly one cell (the target's own),
    // so the 9-way explode introduces no duplicate candidates
    val a = probeDesc
      .select(col("lid").as("la"), col("cx"), col("cy"),
        col("len").as("lena"), col("brg").as("brga"), col("ctr").as("ctra"),
        explode(offsets).as("o"))
      .select(col("la"), (col("cx") + col("o.dx")).as("jx"),
        (col("cy") + col("o.dy")).as("jy"),
        col("lena"), col("brga"), col("ctra"))
    val b = targetDesc.select(col("lid").as("lb"), col("cx").as("jx"),
      col("cy").as("jy"),
      col("len").as("lenb"), col("brg").as("brgb"), col("ctr").as("ctrb"))
    val dBrg = abs(col("brga") - col("brgb"))
    // Narrow to (la, lb, score) before the argmin window — see
    // matchByHausdorff for why. Rank on the ROUNDED score (id tie-break)
    // so the argmin is stable under last-ulp FP differences — which also
    // makes the result oracle-checkable against unordered-sum SQL.
    val scored = a.join(b, Seq("jx", "jy"))
      .select(col("la"), col("lb"),
        round(abs(col("ctra.x") - col("ctrb.x"))
          + abs(col("ctra.y") - col("ctrb.y"))
          + abs(col("lena") - col("lenb"))
          + least(dBrg, lit(360.0) - dBrg), 4).as("score"))
    // ARGMIN as a map-side-combinable HashAggregate. The rounded score
    // is an exact multiple of 1e-4, so (score, lb) packs into ONE long
    // — score quanta << 38 | lb — whose natural order IS the window's
    // (score ASC NULLS LAST, lb ASC): min() skips NULL-score rows (a
    // probe whose every candidate is degenerate drops out, matching the
    // old post-window filter) and partial-aggregates each map partition
    // down to one row per la BEFORE the shuffle. Alternatives measured
    // at sf0.1 over the same 14.2M candidates: row_number window 6.2 s,
    // min_by/min-of-struct ~2x worse still (struct ordering keys force
    // a SORT-based aggregate), encoded min 2.1 s. Bounds, both by
    // construction: score <= ~1.4e3 (centroid L1 <= 200 + len diff +
    // bearing <= 180) -> quanta < 2^25; lb is a line id < 2^38. Decode
    // is exact: quanta/10000.0 is the correctly-rounded double of the
    // same 4-decimal value round(_, 4) produced, and shift/mask are
    // lossless on the non-negative packed key.
    val enc = round(col("score") * 10000, 0).cast("long") * lit(1L << 38) +
      col("lb")
    scored
      .groupBy("la").agg(min(enc).as("e"))
      .filter(col("e").isNotNull)
      .select(col("la"),
        col("e").bitwiseAND(lit((1L << 38) - 1)).as("lb"),
        (shiftright(col("e"), 38).cast("double") / 10000).as("score"))
  }
}
