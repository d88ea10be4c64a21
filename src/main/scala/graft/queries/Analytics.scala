package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Bloom

/** TPC-H-style analytics queries (engine credibility + bench headliners).
  *
  * Money aggregations use exact-integer scaling: each row's money term
  * rounds to integer ten-thousandths (a deterministic row-level
  * expression), the SUM is exact long arithmetic, and the result scales
  * back — immune to the unordered-FP penny flips a plain double sum can
  * produce at round-2 boundaries.
  */
object Analytics {

  /** Exact money sum: round-2 of an integer-ten-thousandths aggregation. */
  private def moneySum(term: org.apache.spark.sql.Column) =
    round(sum(round(term * 10000.0, 0).cast("long")) / 10000.0, 2)

  /** TPC-H Q1-style pricing summary (flagship). */
  def q1Pricing(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(sum(round(col("l_discount") * 100.0, 0).cast("long"))
          / (count(lit(1)) * lit(100.0)), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** Revenue per nation: lineitem join orders join customer join nation —
    * exercises the join pipeline. Only the provably-bounded dimension
    * (nation, 25 rows at any scale factor) carries a broadcast hint;
    * customer grows with the scale factor, so its join strategy is left
    * to AQE, which broadcasts when the runtime size allows (the
    * Dedup.scala rule — a forced hint on a scale-proportional table is
    * honored regardless of size and kills the driver at 100 TB). */
  def qTopRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer")
    val n = Tables.load(spark, dir, "nation")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q3-style shipping priority: filtered 3-way join, top-20 orders
    * by revenue (rank on rounded revenue with orderkey tie-break so the
    * cut is engine-stable). */
  def q3Shipping(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
    val li = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(20)
  }

  /** TPC-H Q5-style local-supplier volume: 6-table join, revenue per
    * nation within one region. nation/region (25/5 rows at any sf) are
    * hinted broadcast; customer/supplier scale with sf, so AQE picks
    * their strategy. */
  def q5Local(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer")
    val s = Tables.load(spark, dir, "supplier")
    val n = Tables.load(spark, dir, "nation")
    val r = Tables.load(spark, dir, "region").filter(col("r_name") === "ASIA")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(s,
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q9-style profit: revenue minus a retail-cost proxy, per
    * supplier nation per order year, ECONOMY parts only. Exercises a
    * fact-to-fact join plus three dimensions (only bounded nation is
    * hinted broadcast; part/supplier are AQE-decided) and a date
    * extraction. */
  def q9Profit(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    val p = Tables.load(spark, dir, "part")
      .filter(col("p_type") === "ECONOMY")
    val s = Tables.load(spark, dir, "supplier")
    val n = Tables.load(spark, dir, "nation")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
      // money terms scale to exact integer ten-thousandths per ROW (a
      // deterministic row-level expression), so the SUM is exact integer
      // arithmetic — immune to unordered-FP penny flips
      .agg(round(sum(
        round((col("l_extendedprice") * (lit(1) - col("l_discount"))
          - col("p_retailprice") * col("l_quantity") * 0.1) * 10000.0, 0)
          .cast("long")) / 10000.0, 2)
        .as("profit"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q10-style returned-item report: top-20 customers by revenue
    * lost to returns (rank on rounded revenue, custkey tie-break). */
  def q10Returns(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer")
    val n = Tables.load(spark, dir, "nation")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q7-style volume shipping: revenue flow between two customer
    * nations per order year (supplier nation x customer nation). */
  def q7Volume(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer")
    val s = Tables.load(spark, dir, "supplier")
    val n1 = Tables.load(spark, dir, "nation")
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val n2 = Tables.load(spark, dir, "nation")
      .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
      .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
      .filter(col("supp_nation") < col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("o_orderdate")).as("o_year"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("volume"),
        count(lit(1)).as("n_items"))
  }

  private val SkewCols = Seq("l_orderkey", "l_partkey", "l_suppkey")

  /** Join-key skew report — the diagnostic a 100 TB pipeline runs
    * BEFORE choosing join strategies (this engine's own salting
    * decisions — snap_to_nearest's auto-priced salt, the AQE-vs-salt
    * measurements in SURVEY §4 — start from exactly these numbers).
    * Per key column: row/key counts, the max and p99 per-key
    * multiplicity, the deterministic heaviest key, the skew ratio
    * (max over mean), and the derived salt factor ceil(max/mean).
    *
    * Shapes: per-key counts are one map-side-combined groupBy per
    * column (the only corpus-sized shuffle, over a single pruned
    * column); p99 reads off a count-of-counts histogram whose size is
    * bounded by the DISTINCT MULTIPLICITY values (a handful), not the
    * key count — the same bounded-domain percentile_disc move as
    * qCorpusStats, so the unpartitioned window is over a driver-sized
    * frame; the heaviest key is the k=1 bounded-heap aggregate, never
    * a global sort. */
  def qSkewReport(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    SkewCols.map { c =>
      val counts = li.select(col(c).cast("long").as("k"))
        .groupBy("k").agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // feeds stats + histogram + heavy-key agg
      val stats = counts.agg(
        count(lit(1)).as("n_keys"), sum("cnt").as("n_rows"),
        max("cnt").as("max_cnt"))
      val heavy = counts
        .agg(graft.functions.TopKAgg(-col("cnt").cast("double"),
          col("k"), col("k"), 1).as("tk"))
        .select(element_at(col("tk"), 1).getField("tie").as("heavy_key"))
      val w = Window.orderBy("cnt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val p99 = counts.groupBy("cnt").agg(count(lit(1)).as("freq"))
        .withColumn("cum", sum("freq").over(w))
        .crossJoin(broadcast(stats.select(col("n_keys").as("nk"))))
        .agg(min(when(col("cum") >= expr("(nk * 99 + 99) DIV 100"),
          col("cnt"))).as("p99_cnt"))
      stats.crossJoin(broadcast(heavy)).crossJoin(broadcast(p99))
        .select(lit(c).as("key_col"), col("n_rows"), col("n_keys"),
          col("max_cnt"), col("p99_cnt"), col("heavy_key"),
          round(col("n_rows").cast("double")
            / col("n_keys").cast("double"), 4).as("mean_cnt"),
          round(col("max_cnt").cast("double") * col("n_keys").cast("double")
            / col("n_rows").cast("double"), 4).as("skew_ratio"),
          expr("(max_cnt * n_keys + n_rows - 1) DIV n_rows").as("salt"))
    }.reduce(_ unionAll _)
  }

  /** Z-order (Morton) data layout — the multi-dimensional clustering
    * under Delta OPTIMIZE ZORDER / Iceberg sort orders: interleave the
    * bits of two filter dimensions (o_custkey, order day) so CONTIGUOUS
    * z-ranges are simultaneously tight in BOTH dimensions, and
    * min/max-per-file skipping works for either predicate. 16-bit
    * quantization per dim, the 32-term interleave is pure codegen'd
    * column arithmetic (shift/and/sum — no UDF), file = fixed-width
    * z-range (z >> 18), one small aggregate for the per-file min/max
    * stats a scan planner would prune with. Map-only up to the final
    * bounded agg; the production write path is the same z column fed to
    * repartitionByRange(z) + sortWithinPartitions (sampled range
    * boundaries — equivalent layout, not bit-replayable, which is why
    * the deterministic fixed-width form is the oracle-checked one). */
  private def ordersCkDay(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .select(col("o_orderkey").cast("long").as("ok"),
        col("o_custkey").cast("long").as("ck"),
        expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate) DIV 86400000000")
          .cast("long").as("day"))

  /** The z-order file assignment: min-max scale each dim to 16 bits,
    * 32-term bit interleave, fixed-width z-range = file. */
  private def withZFile(o: DataFrame): DataFrame = {
    // min-max scale each dim onto the full 16-bit space first —
    // interleaving RAW values would let the wider dim own every high
    // bit and degenerate to a single-column sort (Delta's ZORDER uses
    // per-column range ids for the same reason). Bounds are one tiny
    // agg broadcast over the scan; exact integer arithmetic.
    val bounds = o.agg(min("ck").as("mnc"), max("ck").as("mxc"),
      min("day").as("mnd"), max("day").as("mxd"))
    val scaled = o.crossJoin(broadcast(bounds))
      .withColumn("x",
        expr("(ck - mnc) * 65535 DIV greatest(1, mxc - mnc)"))
      .withColumn("y",
        expr("(day - mnd) * 65535 DIV greatest(1, mxd - mnd)"))
    val z = (0 until 16).map { i =>
      shiftleft(shiftright(col("x"), i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(col("y"), i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
    scaled.withColumn("z", z)
      .withColumn("file_id", expr("z DIV 67108864")) // 2^26: <=64 files
  }

  def qZorderLayout(spark: SparkSession, dir: String): DataFrame =
    withZFile(ordersCkDay(spark, dir))
      .groupBy("file_id")
      .agg(count(lit(1)).as("n_rows"),
        min("ck").as("min_ck"), max("ck").as("max_ck"),
        min("day").as("min_day"), max("day").as("max_day"))
      .withColumn("ck_span", col("max_ck") - col("min_ck"))
      .withColumn("day_span", col("max_day") - col("min_day"))

  /** Z-order pruning BENEFIT, quantified — the question the layout
    * exists to answer: for the same range predicates, how many files
    * does a min/max-stats planner read under the z layout vs the
    * naive insertion-order layout? Ten probes (five per dimension,
    * bounds-derived tenth-wide ranges), each priced against BOTH
    * layouts' per-file min/max stats plus the exact matching row
    * count. Everything is the bounded-stats shape: two small file-
    * stats aggregates, probes broadcast, the corpus scanned once per
    * layout build and once for exact counts. */
  def qZorderPruning(spark: SparkSession, dir: String): DataFrame = {
    val o = ordersCkDay(spark, dir).localCheckpoint()
    val zStats = withZFile(o).groupBy("file_id")
      .agg(count(lit(1)).as("n_rows"), min("ck").as("min_ck"),
        max("ck").as("max_ck"), min("day").as("min_day"),
        max("day").as("max_day"))
    val nStats = o.withColumn("file_id", expr("ok DIV 1024"))
      .groupBy("file_id")
      .agg(count(lit(1)).as("n_rows"), min("ck").as("min_ck"),
        max("ck").as("max_ck"), min("day").as("min_day"),
        max("day").as("max_day"))
    val bounds = o.agg(min("ck").as("mnc"), max("ck").as("mxc"),
      min("day").as("mnd"), max("day").as("mxd"))
    import spark.implicits._
    val probes = Seq.tabulate(10)(j => (j.toLong, if (j < 5) "ck"
      else "day", (j % 5).toLong))
      .toDF("pid", "dim", "slot")
      .crossJoin(broadcast(bounds))
      .select(col("pid"), col("dim"),
        when(col("dim") === "ck",
          expr("mnc + slot * (mxc - mnc) DIV 5"))
          .otherwise(expr("mnd + slot * (mxd - mnd) DIV 5")).as("lo"),
        when(col("dim") === "ck",
          expr("mnc + slot * (mxc - mnc) DIV 5 + (mxc - mnc) DIV 10"))
          .otherwise(expr(
            "mnd + slot * (mxd - mnd) DIV 5 + (mxd - mnd) DIV 10"))
          .as("hi"))
    def priced(stats: DataFrame, fc: String, rc: String): DataFrame =
      stats.crossJoin(broadcast(probes))
        .filter(
          (col("dim") === "ck" && col("min_ck") <= col("hi") &&
            col("max_ck") >= col("lo")) ||
          (col("dim") === "day" && col("min_day") <= col("hi") &&
            col("max_day") >= col("lo")))
        .groupBy("pid")
        .agg(count(lit(1)).as(fc), sum("n_rows").as(rc))
    val exact = o.crossJoin(broadcast(probes))
      .filter((col("dim") === "ck" && col("ck").between(col("lo"),
        col("hi"))) ||
        (col("dim") === "day" && col("day").between(col("lo"),
          col("hi"))))
      .groupBy("pid").agg(count(lit(1)).as("rows_match"))
    probes.join(priced(zStats, "files_z", "rows_z"), Seq("pid"), "left")
      .join(priced(nStats, "files_naive", "rows_naive"), Seq("pid"),
        "left")
      .join(exact, Seq("pid"), "left")
      .select(col("pid"), col("dim"), col("lo"), col("hi"),
        coalesce(col("files_z"), lit(0L)).as("files_z"),
        coalesce(col("rows_z"), lit(0L)).as("rows_z"),
        coalesce(col("files_naive"), lit(0L)).as("files_naive"),
        coalesce(col("rows_naive"), lit(0L)).as("rows_naive"),
        coalesce(col("rows_match"), lit(0L)).as("rows_match"))
  }

  /** 7-day rolling revenue per customer nation — the time-series RANGE
    * frame (not ROWS: missing days must still widen the window by
    * calendar distance). Day totals first (one shuffle to a bounded
    * (nation x day) frame, money exact-integer), then the rolling sum
    * as a rangeBetween window over integer day — the window input is
    * the AGGREGATED frame, so at 100 TB the expensive shuffle happens
    * once on the fact table and the window runs over thousands of rows,
    * not billions. */
  def qRollingRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate) DIV 86400000000")
          .as("day"),
        col("o_totalprice"))
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val n = Tables.load(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val daily = o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"),
        count(lit(1)).as("n_orders"))
    val w = Window.partitionBy("n_name").orderBy("day")
      .rangeBetween(-6, Window.currentRow)
    daily
      .withColumn("roll_cents", sum("cents").over(w))
      .withColumn("roll_orders", sum("n_orders").over(w))
      .select(col("n_name"), col("day"),
        round(col("cents") / 100.0, 2).as("day_revenue"),
        round(col("roll_cents") / 100.0, 2).as("roll_revenue_7d"),
        col("roll_orders").as("roll_orders_7d"))
  }

  /** ROLLUP cube — the subtotal lattice (nation, year) -> (nation) ->
    * grand total in ONE pass: Spark expands grouping sets map-side, so
    * the fact table is read and shuffled once for all three levels
    * (contrast three separate aggs = three scans at 100 TB). Money in
    * exact integer cents; grouping_id distinguishes a real NULL key
    * from a subtotal row. */
  def qSalesCube(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer")
    val n = Tables.load(spark, dir, "nation")
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"),
        col("o_totalprice"))
      .rollup(col("n_name"), col("o_year"))
      .agg(round(sum(round(col("o_totalprice") * 100, 0).cast("long"))
        / 100.0, 2).as("revenue"),
        count(lit(1)).as("n_orders"),
        grouping_id().cast("long").as("gid"))
  }

  /** Fuzzy entity resolution — the similarity JOIN relational engines
    * don't have: a dirty registry (every customer name with one char
    * deterministically deleted inside its numeric suffix) matched back
    * to the master by blocked candidate generation + edit-distance
    * verification. The scale move is ed-join/ppjoin PREFIX FILTERING:
    * candidate pairs come ONLY from each record's globally-RAREST
    * blocking grams (width CORPUS-ADAPTIVE — see adaptiveGramWidth;
    * r17 repaired the fixed-5 namespace saturation measured at 100x
    * in r16) — the shared "customer#0..." prefix grams are
    * stop-grams carrying no signal and would otherwise cross-join the
    * tables — then candidates verify by EXACT Levenshtein distance
    * (r11: the r10 trigram-set Jaccard verification lost 158/1500 at
    * sf0.01 because DISTINCT trigram sets collapse the zero-runs in
    * ID-like suffixes — "00000086" and "000000006" look near-identical
    * as sets; true edit distance restores run-length sensitivity and
    * the true twin sits at exactly lev=1 by construction), with
    * trigram Jaccard as the tie-break inside equal-lev candidates and
    * ckey as the final tie. A SECOND-CHANCE pass re-blocks only the
    * records whose first candidates contain no lev<=1 match, on a
    * DIFFERENT key — the clean structured tail (multi-pass blocking,
    * the standard record-linkage design) — the production shape: a
    * cheap first pass for the 97%, a bounded fallback for the
    * residual, never K x corpus probes for everyone. Never
    * all-pairs. */
  def qEntityResolve(spark: SparkSession, dir: String): DataFrame =
    entityResolveFrom(Tables.load(spark, dir, "customer"))

  /** The registry's PERSISTED serving index, built once per
    * (session, dir) — the Ann.coarseIndex move applied to the
    * similarity join: a master registry at 100 TB does not re-derive
    * its index per matching batch; the names table and the vh-bucketed
    * deletion-variant postings persist, and every incoming dirty batch
    * serves against them (bucketed on vh, the probe join's key). */
  private def entityArtifacts(spark: SparkSession,
                              dir: String): (DataFrame, DataFrame) = {
    import graft.sources.{Artifacts, Bucketed}
    val s = Artifacts.slot(spark, "entity", dir)
    Artifacts.once(spark, s) {
      entityMasterNames(Tables.load(spark, dir, "customer"))
        .write.mode("overwrite").parquet(s"${s.path}/names")
      val names = spark.read.parquet(s"${s.path}/names")
      Bucketed.writeBucketed(entityDeletionPostings(names), s.table,
        s"${s.path}/postings", "vh", 8)
      (names, Bucketed.readBucketed(spark, s.table))
    }
  }

  /** Entity resolution SERVED from the persisted registry index. The
    * serving deployment KNOWS its operating point — every dirty record
    * is one edit from its master (lev <= 1) — so the persisted artifact
    * is the FastSS/SymSpell DELETION NEIGHBORHOOD (Bocek et al. 2007;
    * public literature), the exact index for that radius: two strings
    * are within lev <= 1 only if their single-deletion variant sets
    * intersect, so the variant equi-join is a COMPLETE candidate
    * generator — O(n·len) index entries, never all-pairs, and recall
    * is exact by construction where the general gram-blocking pipeline
    * (qEntityResolve) is probabilistic. Its oracle is therefore
    * INDEPENDENT brute force (length-banded all-pairs + levenshtein in
    * DuckDB), not a replay of the blocking — the strongest check the
    * family has. */
  def qEntityResolveIndexed(spark: SparkSession, dir: String): DataFrame = {
    val (names, postings) = entityArtifacts(spark, dir)
    entityResolveExactOn(names, postings)
  }

  /** All single-char-deletion variants of `name` plus `name` itself,
    * xxhash64-encoded (engine-internal key: collisions only ADD
    * candidates and the lev verification removes them, so the oracle
    * never needs to replay the hash). */
  private def delVariantHashes(name: org.apache.spark.sql.Column) =
    array_distinct(transform(
      sequence(lit(0), length(name)),
      i => when(i === 0, xxhash64(name))
        .otherwise(xxhash64(concat(
          name.substr(lit(1), i - 1),
          name.substr(i + 1, length(name)))))))

  /** Master-side deletion-neighborhood postings (vh, ckey, cl) — the
    * persisted lev<=1 serving index: n·(len+1) rows, each a primitive
    * 64-bit key. */
  def entityDeletionPostings(names: DataFrame): DataFrame =
    names.select(col("ckey"),
      length(col("name")).cast("long").as("cl"),
      explode(delVariantHashes(col("name"))).as("vh"))

  /** The dirty registry derived from the master (one char deleted at a
    * key-determined suffix position) — shared by the general blocked
    * pipeline and the exact deletion-neighborhood serve. */
  private def entityDirty(c: DataFrame): DataFrame = {
    val p = (lit(11L) + pmod(col("ckey"), lit(8L))).cast("int")
    c.select(col("ckey").as("rid"),
      concat(substring(col("name"), lit(1), p - 1),
        substring(col("name"), p + 1, lit(64))).as("name"))
  }

  /** Exact lev<=1 resolve against the deletion-neighborhood index:
    * probe variants equi-join the postings (with the ed-join length
    * filter), candidates verify by levenshtein — candidate count per
    * record is bounded by the variant bucket occupancy, verification
    * is row-local, and the result is the TRUE argmin of the
    * (lev, jac desc, ckey) rule because the candidate set provably
    * contains every lev<=1 pair. */
  def entityResolveExactOn(c: DataFrame, postings: DataFrame): DataFrame = {
    val dirty = entityDirty(c)
    val dvar = dirty.select(col("rid"),
      length(col("name")).cast("long").as("dl"),
      explode(delVariantHashes(col("name"))).as("vh"))
    val cand = dvar.join(postings, Seq("vh"))
      .filter(abs(col("dl") - col("cl")) <= 1)
      .select(col("rid"), col("ckey")).distinct()
    val cArr = gramArr(c.select(col("ckey"), col("name")), "ckey", 3)
      .select(col("ckey"), col("name").as("cn"), col("gs").as("gs_c"))
    val dArr = gramArr(dirty, "rid", 3)
      .select(col("rid"), col("name").as("dn"), col("gs"))
    // threshold-1 levenshtein (r13): the serve only keeps lev <= 1, so
    // the banded DP with early exit decides in O(len) where the full
    // DP pays O(len^2) per candidate; -1 encodes "above threshold"
    val scored = cand
      .join(dArr, Seq("rid"))
      .join(cArr, Seq("ckey"))
      .select(col("rid"), col("ckey"),
        levenshtein(col("dn"), col("cn"), 1).cast("double").as("lev"),
        size(array_intersect(col("gs"), col("gs_c"))).cast("long")
          .as("shared"),
        size(col("gs")).cast("long").as("nb"),
        size(col("gs_c")).cast("long").as("na"))
      .filter(col("lev") >= 0.0)
      .select(col("rid"), col("ckey"), col("lev"),
        round(col("shared").cast("double")
          / (col("na") + col("nb") - col("shared")).cast("double"), 4)
          .as("jac"))
    scored.groupBy("rid")
      .agg(graft.functions.TopKAgg(
        col("lev") * 2 + (lit(1.0) - col("jac")), col("ckey"),
        col("ckey"), 1).as("tk"))
      .select(col("rid"),
        element_at(col("tk"), 1).getField("payload").as("matched_key"),
        element_at(col("tk"), 1).getField("key").as("k"))
      .select(col("rid"), col("matched_key"),
        floor(col("k") / 2).cast("long").as("lev"),
        round(lit(1.0) - (col("k") - floor(col("k") / 2) * 2), 4)
          .as("jac"),
        (col("matched_key") === col("rid")).as("hit"))
  }

  /** Multi-field master entity string: real ER concatenates fields —
    * the name alone is a zero-run with too little entropy to resolve. */
  def entityMasterNames(customer: DataFrame): DataFrame = customer
    .select(col("c_custkey").cast("long").as("ckey"),
      lower(concat(col("c_name"), lit(" "), col("c_mktsegment"),
        lit(" n"), col("c_nationkey"))).as("name"))

  private def gramArr(df: DataFrame, id: String, q: Int): DataFrame = df
    .select(col(id), col("name"), array_distinct(transform(
      sequence(lit(1), greatest(length(col("name")) - (q - 1),
        lit(1))),
      i => substring(col("name"), i.cast("int"), lit(q)))).as("gs"))

  /** CORPUS-ADAPTIVE blocking gram width (r17, VERDICT r16 item 1 —
    * the round-16 finding this repairs): a FIXED width saturates its
    * namespace as the corpus grows — at 100x the 5-gram space measured
    * 110.7k → 61.7k distinct grams in use, median df 2 → 32, and
    * pass-1 candidates hit 5.62 B rows (r16) — the one
    * operator that did not survive the second decade. The cure is the
    * same rule the grid operators use for cell size (autoCellTenths)
    * and the ANN coarse index uses for nlist: derive the parameter
    * from the corpus. Width = smallest g >= 5 with 8^g >= n (i.e.
    * g ~ ceil(log_8 n) — base 8 ≈ the corpus's effective per-char
    * entropy on these digit-tail names, floored at the width the
    * sf-scale corpora measured healthy), capped at 9 where the
    * base-128 long packing ends (128^9 - 1 = Long.MaxValue). Pure
    * integer comparisons — no float log whose boundary rounding could
    * diverge from the oracle's SQL replay of the same rule. The g=7
    * counterfactual this encodes was MEASURED at 100x: 537.8 M pass-1
    * candidates, 10.4x below the fixed-5 blowup. */
  def adaptiveGramWidth(n: Long): Int =
    5 + Seq(32768L, 262144L, 2097152L, 16777216L).count(n > _)

  // blocking grams are ENCODED to a long (w <= 9 ASCII chars pack into
  // 7w <= 63 bits, preserving lexicographic order) so the posting
  // join, the df aggregate and the probe heap all run on primitive keys
  private def encGram(g: org.apache.spark.sql.Column, w: Int) =
    (1 to w).foldLeft(lit(0L)) { (acc, i) =>
      acc * 128L + ascii(substring(g, i, 1)).cast("long")
    }

  /** The master-side BLOCKING INDEX: encoded width-`g` gram postings
    * (ckey, cl, ge). The width is corpus-adaptive (adaptiveGramWidth;
    * 5 at the test sfs — this corpus's trigram space is so low-entropy
    * that even the rarest trigrams carry df ~140 at sf0.1, 7.6M
    * candidate pairs — widening toward 9 as the entity count grows so
    * the namespace stays sparse); postings carry the string LENGTH for
    * the ed-join length filter. This is the artifact a serving
    * deployment persists (see qEntityResolveIndexed). */
  def entityBlockingPostings(names: DataFrame, g: Int): DataFrame =
    gramArr(names.select(col("ckey"), col("name")), "ckey", g)
      .select(col("ckey"), length(col("name")).cast("long").as("cl"),
        explode(col("gs")).as("gm"))
      .select(col("ckey"), col("cl"), encGram(col("gm"), g).as("ge"))

  /** The resolve pipeline over any customer-shaped frame — split out so
    * scaling probes can drive synthetic copies through the identical
    * plan. Builds the blocking index
    * inline; qEntityResolveIndexed serves the same pipeline from the
    * persisted artifacts. */
  def entityResolveFrom(customer: DataFrame): DataFrame = {
    val names = entityMasterNames(customer)
      .localCheckpoint() // master grams + dirty derivation share it
    // ONE bounded driver-side scalar (the count reads the checkpointed
    // blocks) sizes the blocking width for this corpus — the Ann
    // corpus-scaled-nlist shape, never a per-row decision
    val n = names.count()
    val g = adaptiveGramWidth(n)
    val cg5 = entityBlockingPostings(names, g)
      .localCheckpoint() // df table + candidate join
    val dfTab = cg5.groupBy("ge").agg(count(lit(1)).as("df"))
    entityResolveOn(names, cg5, dfTab, g, n)
  }

  /** The SERVE path: resolution against a standing master given its
    * names table, blocking postings and df table — whether built
    * inline (entityResolveFrom) or read back from persisted artifacts
    * (qEntityResolveIndexed). Identical results either way — indexing
    * must never change answers. */
  /** Probe-side STOP-GRAM df cap (r18, VERDICT r17 item 3 — the r16
    * counterfactual promoted to engine behavior): a gram with df >
    * this many postings is ineligible as a pass-1 probe, the same
    * stop-shingle rule Dedup.ngramJaccard/containmentPairs apply to
    * their posting joins. Adaptive width keeps the gram NAMESPACE
    * sparse as the corpus grows, but rarest-4 selection alone still
    * lets a saturated record probe with high-df grams — at 100x
    * (r18, n=1.5M, g=7) the rarest-4 probes carried
    * p50/p99 df of 392/567 and 537.8M pass-1 candidates, the one
    * remaining SCALE spill row (478 GB mem at 100x, SCALE_r17). With
    * the cap, a probe's posting list is <= 32 rows so per-record
    * pass-1 work is <= PrefixK x 32 candidates AT ANY CORPUS SIZE:
    * measured 49.1M candidates at 100x (11x down), zero coverage loss
    * at 1x/10x, and the 2.7% of records whose every gram exceeds the
    * cap fall STRUCTURALLY into the second-chance tail-block rescue
    * (they produce no pass-1 candidates, so the best1 left-anti
    * routes them there — loud and bounded, never a silently empty
    * candidate set, which is how the r10 ABSOLUTE cap failed: that
    * cap gated the JOIN for everyone with no fallback; this one gates
    * probe eligibility with the multi-pass rescue behind it). */
  val ProbeDfCap = 32L

  def entityResolveOn(c: DataFrame, cg5: DataFrame,
                      dfTab: DataFrame, g: Int,
                      nRec: Long = -1L): DataFrame = {
    val PrefixK = 4 // rarest grams probed per dirty record, pass 1
    // EXPANSION-AWARE exchange grain for the candidate join / distinct
    // / scoring joins (r19, the bitext npM move): the df cap bounds
    // pass-1 candidates at nRec × PrefixK × ProbeDfCap in closed form,
    // but Tune's input-proportional grain sizes exchanges by PARQUET
    // bytes — at the 100x decade AQE coalesced the candidate-volume
    // exchanges to ~34 tasks whose SMJ sorts and dedup aggregates
    // spilled 4.2/2.4/1.4 GB (r19 stage table on q_entity_resolve).
    // Resolves to the engine floor at the bench sfs (every grained()
    // below is then a no-op — plan unchanged); pure
    // layout, results untouched. nRec < 0 (serve paths that never
    // counted) keeps the old shape.
    val minPartsE = c.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt.toLong
    val npE =
      if (nRec < 0) minPartsE.toInt
      else math.min(2048L, math.max(minPartsE,
        nRec * PrefixK * ProbeDfCap / 400000L)).toInt
    def grained(df: DataFrame, key: org.apache.spark.sql.Column*)
        : DataFrame =
      if (npE > minPartsE) df.repartition(npE, key: _*) else df
    // dirty twin: drop one char at a suffix position keyed by the id
    val dirty = entityDirty(c)
    // verification frames: raw names (for levenshtein) SEPARATE from
    // the trigram sets (for the Jaccard tie-break) — r18 split. The
    // r17 form attached names AND gram arrays to every candidate pair
    // before the lev filter, so the scoring join moved ~3 KB per
    // candidate (50M capped pairs x arrays ≈ 150 GB of joined rows at
    // 100x — the r18 decade run watched it eat the disk). Only rows that
    // SURVIVE the lev threshold ever need jac (lev dominates the
    // composite key; threshold-1 scoring filters to lev<=1 first), so
    // stage A joins the ~100-byte names, and stage B attaches gram
    // arrays to the ~per-rid-sized survivor set — candidate volume
    // pays name-width, corpus volume pays array-width, never both.
    val cNames = c.select(col("ckey"), col("name").as("cn"))
    val dNames = dirty.select(col("rid"), col("name").as("dn"))
    val cGs = gramArr(c.select(col("ckey"), col("name")), "ckey", 3)
      .select(col("ckey"), col("gs").as("gs_c"))
    val dGs = gramArr(dirty, "rid", 3)
      .select(col("rid"), col("gs"))
    // grain BEFORE the ~len× gram explode (guide §3.3: exchange the
    // un-exploded rows): moving nRec records beats buffering nRec·len
    // exploded gram rows through the scan-grain shuffle writers (the
    // r19 decade profile's 0.9-1.3 GB map-side sorter spills)
    val dg5 = gramArr(grained(dirty, col("rid")), "rid", g)
      .select(col("rid"), length(col("name")).cast("long").as("dl"),
        explode(col("gs")).as("gm"))
      .select(col("rid"), col("dl"), encGram(col("gm"), g).as("ge"))
    // per-RECORD prefix filter (the ppjoin scheme) INTERSECTED with
    // the stop-gram eligibility cap (ProbeDfCap, r18): each dirty
    // record probes with its rarest blocking grams AMONG those whose
    // posting list is bounded. The two layers fail differently and
    // cover each other: the r10 absolute df<=25 cap gated the join
    // for everyone with no fallback (at 4x corpus every gram exceeded
    // it and the candidate set silently emptied); the per-record
    // prefix alone let saturated records drag 537.8M pass-1
    // candidates at 100x (r18). Cap + prefix +
    // the structural retry rescue bounds pass-1 work per record at
    // any corpus size with no silent-empty mode.
    // per-record rarest-K selection as the bounded-heap TopKAgg, not a
    // row_number window (the §5 rule: the heap map-side-combines to K
    // rows per (partition x rid) where the window sorts every posting
    // through one exchange); (df, encoded-gram) ordering == the
    // oracle's (df, gram-string) ordering for equal-length ASCII grams
    // the exploded dirty gram table is nRec × ~g·len rows — the probe
    // join and the rarest-K heap run at the npE grain (a no-op at the
    // bench sfs); the rid repartition after the join doubles as the
    // heap's clustering, so groupBy(rid, dl) adds no exchange
    val probesAll = grained(grained(dg5, col("ge"))
      .join(dfTab.filter(col("df") <= ProbeDfCap), Seq("ge")), col("rid"))
      .groupBy("rid", "dl")
      .agg(graft.functions.TopKAgg(col("df").cast("double"), col("ge"),
        col("ge"), PrefixK).as("beam"))
      .select(col("rid"), col("dl"), explode(col("beam")).as("b"))
      .select(col("rid"), col("dl"), col("b").getField("payload")
        .as("ge"))
    // verification is ROW-LOCAL: levenshtein on the raw names + set
    // arithmetic on the attached trigram arrays — two equi-joins on
    // the id keys, no per-gram three-way join (the gram tables are
    // entity-sized, so AQE broadcasts them here; at scale the same
    // equi-joins hash-partition on the ids).
    // Pass 1 scores with THRESHOLD-1 levenshtein (r13, VERDICT r12
    // item 3): the pass-1 decision is only "does a lev<=1 candidate
    // exist, and which lev<=1 row wins" — lev dominates the composite
    // key (2*lev > any 1-jac delta), so a rid with any lev<=1
    // candidate has the same winner whether or not its lev>=2 rows
    // enter the heap. The banded DP decides lev<=1 in O(len) against
    // the full DP's O(len^2); only the retry residual (~3% of rids)
    // ever pays exact distances, and it re-scores its own pass-1
    // candidates below.
    def score(cand: DataFrame, threshold: Option[Int]): DataFrame = {
      // the ckey-keyed exchange carries candidate-volume rows + the
      // attached dirty name — the npE grain's second application (the
      // rid join reuses cand1's checkpoint layout, see below)
      val survivors = grained(cand
        .join(dNames, Seq("rid")), col("ckey"))
        .join(cNames, Seq("ckey"))
        .select(col("rid"), col("ckey"),
          threshold.fold(levenshtein(col("dn"), col("cn")))(t =>
            levenshtein(col("dn"), col("cn"), t))
            .cast("double").as("lev"))
        .filter(col("lev") >= 0.0) // -1 = above threshold, never a winner
      grained(grained(survivors, col("rid"))
        .join(dGs, Seq("rid")), col("ckey"))
        .join(cGs, Seq("ckey"))
        .select(col("rid"), col("ckey"), col("lev"),
          size(array_intersect(col("gs"), col("gs_c"))).cast("long")
            .as("shared"),
          size(col("gs")).cast("long").as("nb"),
          size(col("gs_c")).cast("long").as("na"))
        .select(col("rid"), col("ckey"), col("lev"),
          round(col("shared").cast("double")
            / (col("na") + col("nb") - col("shared")).cast("double"), 4)
            .as("jac"))
    }
    // ed-join LENGTH FILTER at candidate generation (both passes):
    // lev >= |Δlen|, and every final winner sits at lev = 1 (the twin
    // is one deletion away; a rival can only beat it at lev = 1 too),
    // so pairs with |Δlen| > 1 can never win — dropping them changes
    // no output row and cuts the lev+intersect verification volume
    // candidate join at the npE grain (both sides, so the equi-join
    // reuses the layout); the dedup then repartitions by rid ONLY —
    // HashPartitioning(rid) satisfies the (rid, ckey) distinct's
    // clustering (same rid ⇒ same partition) AND leaves the checkpoint
    // rid-keyed, so score()'s dNames join probes it with no exchange
    // on the candidate side
    val cand1 = grained(grained(probesAll, col("ge"))
      .join(grained(cg5, col("ge")), Seq("ge"))
      .filter(abs(col("dl") - col("cl")) <= 1)
      .select(col("rid"), col("ckey")), col("rid"))
      .distinct()
      .localCheckpoint() // pass-1 scoring + retry re-score share it
    // rank by (lev asc, jac desc, ckey asc): the composite key keeps
    // lev dominant (lev*2 > any 1-jac delta) and 1-jac is monotone in
    // jac with round-4 spacing far above double ulp — same order the
    // oracle's ORDER BY lev, jac DESC, ckey produces. Winner (lev,
    // jac) DECODE from the key: floor(k/2) recovers lev exactly and
    // round-4 absorbs the one-ulp addition error in 1-(k-2*lev).
    val keyOf = (d: DataFrame) => d.groupBy("rid")
      .agg(graft.functions.TopKAgg(
        col("lev") * 2 + (lit(1.0) - col("jac")), col("ckey"),
        col("ckey"), 1).as("tk"))
      .select(col("rid"),
        element_at(col("tk"), 1).getField("payload").as("matched_key"),
        element_at(col("tk"), 1).getField("key").as("k"))
    // ONE threshold-1 scoring pass over pass-1 candidates straight
    // into the k=1 heap; best1 holds exactly the rids that HAVE a
    // lev<=1 candidate (the old k<4 test, decided structurally)
    val best1 = keyOf(score(cand1, threshold = Some(1)))
      .localCheckpoint() // done/retry split + final union
    // second chance: rids whose pass-1 winner is not lev<=1 (blocking
    // missed the twin, or no candidates survived at all) — a small
    // set, so the extra work is bounded by the residual, not the
    // corpus. The rescue BLOCKS ON THE STRONGEST KEY THE OPERATING
    // CONTRACT ALLOWS (multi-pass blocking, the standard record-
    // linkage design — the residual pass is where you spend your best
    // key): the corruption is one deletion at a name position in
    // [11, 18], so each master's EIGHT windowed deletion variants
    // (the row-146 FastSS neighborhood restricted to the corruption
    // window) form a COMPLETE candidate generator for the residual —
    // the dirty string IS one of its master's variants, and the join
    // is exact string equality. r18 measurement forced this: the r11
    // tail key right(name, 12) was mostly segment+nation (~125
    // distinct values on this corpus — the name's digits END at
    // position 18, so every fixed suffix key collapses to the same
    // low-cardinality tail), and rescue buckets grew LINEARLY with
    // the corpus: at 100x the df-capped pass-1 sends 41k records here
    // and 41k x 12k-row buckets = 492M verification pairs filled the
    // disk (r18 decade run, ENOSPC twice). The variant join is ~8 rows
    // per master and candidates ~ the true-match set at any corpus
    // scale.
    val retryIds = dirty.select(col("rid"))
      .join(best1.select("rid"), Seq("rid"), "left_anti")
    // the variant side is 8 × |master| name strings — grained so the
    // string-keyed join never sorts it in a handful of coalesced tasks
    // (stage-157 of the r19 decade profile: 6.4 GB spill at 34 tasks)
    val cand2 = grained(dirty.join(retryIds, Seq("rid"))
      .select(col("rid"), col("name").as("tk")), col("tk"))
      .join(grained(c.select(col("ckey"), explode(array((11 to 18).map(p =>
          concat(substring(col("name"), 1, p - 1),
            substring(col("name"), p + 1, 64))): _*)).as("tk")),
        col("tk")),
        Seq("tk"))
      .select(col("rid"), col("ckey")).distinct()
      .localCheckpoint() // thr-1 retry pass + residual re-score share it
    // STAGED retry (r13): the rescue block scores with threshold-1
    // first — a retry rid whose rescue candidates hold a lev<=1 match
    // is decided there (its pass-1 candidates are all lev>=2 by the
    // retry definition, so they cannot beat it; under the r18 variant
    // join every rescue candidate IS a lev<=1 match by construction).
    // Only the doubly-residual rids — no lev<=1 candidate in EITHER
    // pass — re-score their full candidate set through the exact DP,
    // because their winners sit at lev >= 2 where exact distances
    // order the ranking. A duplicate pair inside the union is
    // harmless (identical (key, tie) can't change a k=1 heap).
    val best2a = keyOf(score(cand2, threshold = Some(1)))
      .localCheckpoint() // residual split + final union
    val retry2 = retryIds
      .join(best2a.select("rid"), Seq("rid"), "left_anti")
    val candResid = cand1.join(retry2, Seq("rid"))
      .unionByName(cand2.join(retry2, Seq("rid")))
    val best2b = keyOf(score(candResid, threshold = None))
    best1.unionByName(best2a).unionByName(best2b)
      .select(col("rid"), col("matched_key"),
        floor(col("k") / 2).cast("long").as("lev"),
        round(lit(1.0) - (col("k") - floor(col("k") / 2) * 2), 4)
          .as("jac"),
        (col("matched_key") === col("rid")).as("hit"))
  }

  /** Bloom file-skipping index — the data-skipping layer beside the
    * Z-order layout (row 97): per-FILE Bloom filters over a non-layout
    * column (o_custkey), the Parquet column-bloom / Delta
    * dataSkippingStatsColumns shape for point lookups the min/max
    * stats can't prune (high-cardinality keys scattered across every
    * file). Each file's filter is 4096 bits = 128 x 32-bit words built
    * by ONE bit_or aggregate over 4 affine hash positions per distinct
    * (file, key) — filters stay DISTRIBUTED (no driver model; a
    * planner reads them as a tiny side table). The probe set mixes
    * present keys with PLANTED-ABSENT twins (+1e9 offset), so hits,
    * clean skips AND false positives all occur — the FP rate is the
    * skip-index trade being measured (~4 bits/key at k=4 hashes).
    * The layout, hashes and bit test are operators.Bloom's. Exact
    * membership comes from an independent distinct-pair join, never
    * from the filter itself. */
  def qBloomSkipIndex(spark: SparkSession, dir: String): DataFrame = {
    val MBits = 4096L
    val oDist = Tables.load(spark, dir, "orders")
      .select(expr("CAST(o_orderkey AS BIGINT) DIV 1024").as("file_id"),
        col("o_custkey").cast("long").as("key"))
      .distinct()
      .localCheckpoint() // bloom build + exact-membership join
    val bloomRows = Bloom.words(oDist, "key", MBits, Seq("file_id"))
    val files = oDist.select("file_id").distinct()
    val ck = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").cast("long").as("key"))
      .filter(col("key") % 499 === 3)
    val probes = ck.unionByName(
      ck.select((col("key") + 1000000000L).as("key")))
    val probeHash = Bloom.probes(probes, "key", MBits, Seq("key"))
    // every (file, probe) tests all 4 positions; a missing word row is
    // an all-zero word (coalesce), so the count per group is exactly 4
    val tests = files.crossJoin(broadcast(probeHash))
      .join(bloomRows, Seq("file_id", "word"), "left")
      .withColumn("set",
        Bloom.isSet(coalesce(col("bits"), lit(0L)), col("bit")))
      .groupBy("file_id", "key")
      .agg((sum(when(col("set"), 1L).otherwise(0L)) === 4L)
        .as("bloom_hit"))
    val present = oDist
      .select(col("file_id"), col("key"), lit(true).as("present"))
    tests.join(present, Seq("file_id", "key"), "left")
      .select(col("file_id"), col("key").as("probe_key"),
        col("bloom_hit"),
        coalesce(col("present"), lit(false)).as("present"),
        (col("bloom_hit") && !coalesce(col("present"), lit(false)))
          .as("false_positive"))
  }

  /** k-anonymity audit (Sweeney 2002) — the release gate a privacy
    * review runs before publishing a table keyed by quasi-identifiers.
    * QI = (nation, market segment, $5000 account-balance bucket); a
    * group of fewer than k=5 members re-identifies. Groups that fail at
    * the full QI are GENERALIZED one level (balance bucket dropped,
    * reported as bucket -1): if the coarser group reaches k it ships
    * generalized, else its rows are suppressed — the audit reports all
    * three outcomes, not just a pass/fail bit. Bucketing is exact
    * integer arithmetic on cents with a +1e7 shift so the div never
    * sees a negative (Spark `div` truncates toward zero, DuckDB `//`
    * floors — they agree only on non-negatives). Plan: two hash
    * aggregates, the second over only the failing groups (a tiny
    * fraction); one shuffle each, no windows. */
  /** Differentially-private histogram RELEASE (Dwork et al. 2006
    * Laplace mechanism — public literature): the privacy family's
    * missing half. Rows 171/187 AUDIT a dataset (k-anonymity,
    * l-diversity); this row RELEASES an aggregate under an ε-budget —
    * the shape a data card or external stats endpoint actually ships.
    * Per-(nation, segment) customer counts have L1 sensitivity 1
    * (each customer contributes to exactly one cell), so
    * noisy = n + Lap(1/ε) at ε = 1; the released frame carries ONLY
    * the noisy count (never n — the whole point) plus the ε spent.
    * Distributed shape: one map-side-combined count aggregate; the
    * noise is a row-local projection over the ~125-cell result.
    *
    * Noise is SEEDED, the suite's deterministic stand-in convention
    * (multimodal decode fakes, epoch-shuffle keys): a per-cell Knuth
    * multiplicative hash gives u ∈ (0,1), and the Laplace draw is the
    * inverse CDF −sign(u−½)·ln(1−2|u−½|) — the exact mechanism SHAPE
    * with reproducible draws, SQL-replayable (a production release
    * would draw u from a CSPRNG; everything else is unchanged). The
    * ln is the KN-LM precedent: both engines see bit-identical inputs
    * and round(…,2) absorbs any libm ulp; an exact decimal half is
    * impossible (the ln term is irrational for these rationals). */
  def qDpHistogram(spark: SparkSession, dir: String): DataFrame = {
    val P = 1000000007L
    val g = Tables.load(spark, dir, "customer")
      .select(col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("segment"))
      .groupBy("nation", "segment").agg(count(lit(1)).as("n"))
    val x = col("nation") * 1000L +
      ascii(substring(col("segment"), 1, 1)) * 10L +
      length(col("segment"))
    val u = (pmod(x * 2654435761L + 97L, lit(P)).cast("double") + 0.5) /
      P.toDouble
    val noise = -signum(u - 0.5) *
      log(lit(1.0) - lit(2.0) * abs(u - 0.5))
    g.select(col("nation"), col("segment"),
      round(col("n") + noise, 2).as("noisy_n"),
      lit(1.0).as("epsilon"))
  }

  def qKAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val K = 5
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("segment"),
        (expr("(cast(round(c_acctbal * 100, 0) as long) + 10000000) " +
          "div 500000") - lit(20L)).as("bal_bucket"))
    val g0 = c.groupBy("nation", "segment", "bal_bucket")
      .agg(count(lit(1)).as("n_members"))
    val pass = g0.filter(col("n_members") >= K)
      .withColumn("status", lit("k_anon"))
    val gen = g0.filter(col("n_members") < K)
      .groupBy("nation", "segment")
      .agg(sum("n_members").as("n_members"))
      .select(col("nation"), col("segment"),
        lit(-1L).as("bal_bucket"), col("n_members"),
        when(col("n_members") >= K, "generalized")
          .otherwise("suppressed").as("status"))
    pass.unionByName(gen)
  }

  /** Item-item co-occurrence similarity ("people also bought") — the
    * collaborative-filtering batch job every commerce/recsys warehouse
    * runs: baskets (distinct customer→part purchases), a PER-USER
    * self-join for co-occurrence counts, cosine = co/√(n_a·n_b) (sqrt
    * is IEEE-correctly-rounded on both engines — the one transcendental
    * that is safe), top-5 neighbors per item through TopKAgg. The
    * quadratic hazard is the POWER USER: pair count grows with basket
    * size squared, so baskets above 48 items are capped by a
    * deterministic modular sample — (u·31+i·17) mod size < 48 — which
    * the oracle replays exactly (the cap genuinely bites at every sf:
    * max basket 90-105). Pairs prune at co ≥ 3 BEFORE the cosine join;
    * the na/nb margin joins are AQE-decided (item cardinality grows
    * with the catalog — never force-broadcast it).
    *
    * Floor attribution (r12, stage profile at sf0.1): baskets
    * build ~1.4 s + pair self-join/agg ~2.6 s ≈ the ~4 s total — the
    * capped pair expansion IS the floor. The row-local alternative
    * (collect_list per user + HOF pair explode) measured 2.3× SLOWER
    * (6.1 s) than the self-join: struct-building lambdas allocate per
    * pair where the join stays in codegen'd rows. Keep the join. */
  def qItemCofreq(spark: SparkSession, dir: String): DataFrame = {
    val Cap = 48
    val b0 = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey").cast("long").as("ok"),
        col("l_partkey").cast("long").as("i"))
      .join(Tables.load(spark, dir, "orders")
        .select(col("o_orderkey").cast("long").as("ok"),
          col("o_custkey").cast("long").as("u")), "ok")
      .select("u", "i").distinct()
    val sizes = b0.groupBy("u").agg(count(lit(1)).as("sz"))
    val b = b0.join(sizes, Seq("u"))
      .filter(col("sz") <= Cap ||
        (col("u") * 31 + col("i") * 17) % col("sz") < Cap)
      .select("u", "i").localCheckpoint() // self-join sides + item df
    val na = b.groupBy("i").agg(count(lit(1)).as("n"))
    val pairs = b.as("a")
      .join(b.as("bb"),
        col("a.u") === col("bb.u") && col("a.i") < col("bb.i"))
      .groupBy(col("a.i").as("ia"), col("bb.i").as("ib"))
      .agg(count(lit(1)).as("co"))
      .filter(col("co") >= 3)
    // item margins grow with the catalog — no forced broadcast; AQE
    // broadcasts when the runtime size allows
    val scored = pairs
      .join(na.select(col("i").as("ia"), col("n").as("na")), Seq("ia"))
      .join(na.select(col("i").as("ib"), col("n").as("nb")), Seq("ib"))
      .withColumn("cos4", round(col("co").cast("double")
        / sqrt((col("na") * col("nb")).cast("double")), 4))
    scored.groupBy("ia")
      .agg(graft.functions.TopKAgg(-col("cos4"), col("ib"), col("co"), 5)
        .as("tk"))
      .select(col("ia"), posexplode(col("tk")).as(Seq("pos", "t")))
      .select(col("ia"), (col("pos") + 1).cast("int").as("rank"),
        col("t.tie").as("ib"), col("t.payload").as("co"),
        (-col("t.key")).as("cos4"))
  }

  /** l-diversity audit (Machanavajjhala 2007) — the disclosure check
    * k-anonymity alone misses: a group can be large AND still leak if
    * every member shares the sensitive value (homogeneity attack), or
    * nearly so (probabilistic disclosure). QI here = (nation, $5000
    * balance bucket) with market segment as the sensitive attribute;
    * a group passes iff it carries ≥2 distinct segments AND no segment
    * dominates beyond 800‰. Two cascaded hash aggregates — (QI,
    * sensitive) counts, then the per-QI rollup — both map-side
    * combined; no windows, no joins. */
  def qLDiversity(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_nationkey").cast("long").as("nation"),
        (expr("(cast(round(c_acctbal * 100, 0) as long) + 10000000) " +
          "div 500000") - lit(20L)).as("bal_bucket"),
        col("c_mktsegment").as("segment"))
    c.groupBy("nation", "bal_bucket", "segment")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("nation", "bal_bucket")
      .agg(sum("cnt").as("n_members"),
        count(lit(1)).as("n_distinct_sensitive"),
        max("cnt").as("dom_cnt"))
      .select(col("nation"), col("bal_bucket"), col("n_members"),
        col("n_distinct_sensitive"),
        expr("dom_cnt * 1000 div n_members").as("dom_share_pm"))
      .withColumn("l_diverse", col("n_distinct_sensitive") >= 2 &&
        col("dom_share_pm") <= 800)
  }

  /** Subject-access-request export (GDPR art. 15) — the READ twin of
    * the cascading delete below: for each data subject (deterministic
    * key set, c_custkey % 125 == 7) gather the per-table footprint a
    * compliance export must enumerate — row count plus an exact-cents
    * value digest per table, INCLUDING explicit zero rows for tables
    * where the subject has no data (an export that omits empty tables
    * can't prove it looked). The subject key set is a fixed FRACTION of
    * the customer table (it grows with sf), so no forced broadcast —
    * AQE broadcasts the subject side when its runtime size allows; each
    * fact table joins it and aggregates by subject (map-side combine),
    * lineitem reaches the subject through its orders — the same FK path
    * the delete walks. */
  def qSarExport(spark: SparkSession, dir: String): DataFrame = {
    val subs = Tables.load(spark, dir, "customer")
      .filter(col("c_custkey") % 125 === 7)
      .select(col("c_custkey").cast("long").as("subject"))
      .localCheckpoint() // four consumers
    def cents(c: org.apache.spark.sql.Column) =
      round(c * 100.0, 0).cast("long")
    val custF = Tables.load(spark, dir, "customer")
      .join(subs, col("c_custkey") === col("subject"))
      .groupBy("subject").agg(count(lit(1)).as("n_rows"),
        sum(cents(col("c_acctbal"))).as("digest_cents"))
    val ordBase = Tables.load(spark, dir, "orders")
      .join(subs, col("o_custkey") === col("subject"))
      .select(col("subject"), col("o_orderkey"), col("o_totalprice"))
      .localCheckpoint() // orders agg + lineitem path
    val ordF = ordBase.groupBy("subject")
      .agg(count(lit(1)).as("n_rows"),
        sum(cents(col("o_totalprice"))).as("digest_cents"))
    val liF = Tables.load(spark, dir, "lineitem")
      .join(ordBase.select("subject", "o_orderkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("subject").agg(count(lit(1)).as("n_rows"),
        sum(cents(col("l_extendedprice"))).as("digest_cents"))
    val evF = Tables.load(spark, dir, "events")
      .join(subs, col("user_id") === col("subject"))
      .groupBy("subject").agg(count(lit(1)).as("n_rows"),
        sum(cents(col("value"))).as("digest_cents"))
    Seq(("customer", custF), ("orders", ordF),
      ("lineitem", liF), ("events", evF)).map { case (name, f) =>
      subs.join(f, Seq("subject"), "left")
        .select(col("subject"), lit(name).as("table"),
          coalesce(col("n_rows"), lit(0L)).as("n_rows"),
          coalesce(col("digest_cents"), lit(0L)).as("digest_cents"))
    }.reduce(_ unionByName _)
  }

  /** Cascading delete (right-to-be-forgotten): customers with
    * c_custkey % 37 == 0 are erased, their orders follow, and those
    * orders' lineitems follow — the 3-level FK cascade every
    * user-deletion pipeline runs. Each level is ONE anti-join against
    * the deleted-key set of the level above (scale-proportional, so the
    * join strategy is AQE's call, not a forced hint); the audit
    * row per table carries before/deleted/after counts AND the orphan
    * count after deletion (rows still referencing an erased parent),
    * which must be zero — the verification a deletion job must emit
    * for compliance, not just perform. */
  def qCascadeDelete(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").cast("long").as("ck"))
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey").cast("long").as("ok"),
        col("o_custkey").cast("long").as("ock"))
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey").cast("long").as("lok"))
    val delC = c.filter(col("ck") % 37 === 0)
    val keepC = c.filter(col("ck") % 37 =!= 0)
    val delO = o.join(delC, col("ock") === col("ck"))
      .select("ok", "ock")
    val keepO = o.join(delC, col("ock") === col("ck"), "left_anti")
    val keepLi = li.join(delO.select("ok"), col("lok") === col("ok"),
      "left_anti")
    // orphan checks: a surviving child must still have its parent —
    // computed by INDEPENDENT anti-joins, not by re-applying the delete
    // predicate (a circular audit would pass even if the cascade broke)
    val orphO = keepO.join(keepC, col("ock") === col("ck"), "left_anti")
    val orphLi = keepLi.join(keepO.select("ok"), col("lok") === col("ok"),
      "left_anti")
    // all counts stay in the plan (1-row aggregates, no driver loop)
    Seq(("customer", c, keepC, keepC.limit(0)),
      ("orders", o, keepO, orphO),
      ("lineitem", li, keepLi, orphLi)).map { case (n, b, a, orph) =>
      b.agg(count(lit(1)).as("n_before"))
        .crossJoin(a.agg(count(lit(1)).as("n_after")))
        .crossJoin(orph.agg(count(lit(1)).as("n_orphans")))
        .select(lit(n).as("table"), col("n_before"),
          (col("n_before") - col("n_after")).as("n_deleted"),
          col("n_after"), col("n_orphans"))
    }.reduce(_ unionByName _)
  }

  /** Data-contract validation — the expectation suite a pipeline runs
    * before promoting a batch (the Great-Expectations shape): range,
    * domain, uniqueness, referential and internal-consistency checks,
    * each ONE conditional aggregate (or one anti-join for the FK), all
    * emitted as a single report. The `value_le_400` row is a soft
    * distribution expectation that genuinely FAILS on this data —
    * a contract report that can only ever pass tests nothing. */
  def qDataContract(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    val ev = Tables.load(spark, dir, "events")
    val c = Tables.load(spark, dir, "customer")
    val d = Tables.load(spark, dir, "documents")
    def check(table: String, name: String, df: DataFrame,
              bad: org.apache.spark.sql.Column): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          sum(when(bad, 1L).otherwise(0L)).as("n_violations"))
        .select(lit(table).as("table"), lit(name).as("check"),
          col("n_rows"), col("n_violations"),
          (col("n_violations") === 0).as("pass"))
    val fkBad = o.join(c.select(col("c_custkey").as("ck")),
      col("o_custkey") === col("ck"), "left_anti")
    val fk = fkBad.agg(count(lit(1)).as("n_violations"))
      .crossJoin(o.agg(count(lit(1)).as("n_rows")))
      .select(lit("orders").as("table"),
        lit("o_custkey_fk_customer").as("check"), col("n_rows"),
        col("n_violations"), (col("n_violations") === 0).as("pass"))
    val uniq = o.agg(count(lit(1)).as("n_rows"),
        (count(lit(1)) - countDistinct(col("o_orderkey")))
          .as("n_violations"))
      .select(lit("orders").as("table"),
        lit("o_orderkey_unique").as("check"), col("n_rows"),
        col("n_violations"), (col("n_violations") === 0).as("pass"))
    Seq(
      check("lineitem", "l_quantity_range_1_50", li,
        col("l_quantity") < 1 || col("l_quantity") > 50),
      check("lineitem", "l_extendedprice_positive", li,
        col("l_extendedprice") <= 0),
      check("events", "event_type_in_domain", ev,
        !col("event_type").isin("view", "click", "purchase", "signup",
          "error")),
      check("events", "value_le_400", ev, col("value") > 400.0),
      check("customer", "c_name_prefixed", c,
        !col("c_name").startsWith("Customer#")),
      check("documents", "n_chars_matches_text", d,
        col("n_chars") =!= length(col("text")))
    ).reduce(_ unionByName _).unionByName(uniq).unionByName(fk)
  }

  /** Consistent-hash shard rebalance — the storage-layout decision a
    * 100 TB bucketed store makes once and lives with: when the
    * cluster grows 8 → 9 shards, mod-hashing reassigns ~8/9 of every
    * key (a full-corpus rewrite) while RENDEZVOUS (HRW) hashing
    * (Thaler & Ravishankar 1996 — public literature) moves only the
    * ~1/9 that the new shard wins, because each key's shard is the
    * argmax of a per-(key, shard) mix that existing shards keep.
    * Integer-exact: mix = (h·131 + (s+1)·2654435761) mod P, argmax
    * with low-shard tie-break encoded as ONE key mix·16 + (15−s) so
    * array_max IS the argmax (the TopKAgg encode move, row-local).
    * Measured: mod moves 88.8% of keys, HRW 11.1% — the 8× rewrite
    * saving, made a number. One scan + a 1-row marginal. */
  def qShardRebalance(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val P = 1000000007L
    // the mix must not be LINEAR in s: an arithmetic progression mod P
    // has a non-uniform argmax position (measured: the new shard won
    // 5.4% instead of ~1/9) — squaring the lane scatters it
    def mix(h: org.apache.spark.sql.Column, s: org.apache.spark.sql.Column) = {
      val m = pmod(h * lit(131L) + (s + 1L) * lit(2654435761L), lit(P))
      pmod(m * m, lit(P))
    }
    def hrw(h: org.apache.spark.sql.Column, n: Int) = {
      val enc = array_max(transform(sequence(lit(0L), lit(n - 1L)),
        s => mix(h, s) * lit(16L) + (lit(15L) - s)))
      lit(15L) - pmod(enc, lit(16L))
    }
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"),
        rollingFingerprint(norm(col("text"))).as("h"))
      .select(col("doc_id"), col("h"),
        pmod(col("h"), lit(8L)).as("mod8"),
        pmod(col("h"), lit(9L)).as("mod9"),
        hrw(col("h"), 8).as("hrw8"), hrw(col("h"), 9).as("hrw9"))
      .withColumn("moved_mod", col("mod8") =!= col("mod9"))
      .withColumn("moved_hrw", col("hrw8") =!= col("hrw9"))
      .localCheckpoint() // rows + marginal
    val m = base.agg(count(lit(1)).as("n_keys"),
      sum(when(col("moved_mod"), 1L).otherwise(0L)).as("n_moved_mod"),
      sum(when(col("moved_hrw"), 1L).otherwise(0L)).as("n_moved_hrw"))
    base.crossJoin(broadcast(m))
      .select(col("doc_id"), col("h"), col("mod8"), col("mod9"),
        col("hrw8"), col("hrw9"), col("moved_mod"), col("moved_hrw"),
        col("n_keys"), col("n_moved_mod"), col("n_moved_hrw"),
        expr("n_moved_mod * 10000 div n_keys").as("mod_moved_bp"),
        expr("n_moved_hrw * 10000 div n_keys").as("hrw_moved_bp"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_shard_rebalance" -> (qShardRebalance _),
    "q_kanonymity" -> (qKAnonymity _),
    "q_ldiversity" -> (qLDiversity _),
    "q_item_cofreq" -> (qItemCofreq _),
    "q_sar_export" -> (qSarExport _),
    "q_dp_histogram" -> (qDpHistogram _),
    "q_data_contract" -> (qDataContract _),
    "q_cascade_delete" -> (qCascadeDelete _),
    "q_entity_resolve" -> (qEntityResolve _),
    "q_entity_resolve_indexed" -> (qEntityResolveIndexed _),
    "q_rolling_revenue" -> (qRollingRevenue _),
    "q_sales_cube" -> (qSalesCube _),
    "q_zorder_layout" -> (qZorderLayout _),
    "q_bloom_skip_index" -> (qBloomSkipIndex _),
    "q_zorder_pruning" -> (qZorderPruning _),
    "q_skew_report" -> (qSkewReport _),
    "q1_pricing" -> (q1Pricing _),
    "q_top_revenue" -> (qTopRevenue _),
    "q3_shipping" -> (q3Shipping _),
    "q5_local" -> (q5Local _),
    "q7_volume" -> (q7Volume _),
    "q9_profit" -> (q9Profit _),
    "q10_returns" -> (q10Returns _))

  /** DuckDB twin of qSkewReport, one subquery block per key column. */
  private val skewReportOracle: String = {
    val blocks = SkewCols.zipWithIndex.map { case (c, i) =>
      s"""SELECT '$c' AS key_col, n_rows, n_keys, max_cnt,
         |  (SELECT MIN(cnt) FROM (
         |     SELECT cnt, SUM(freq) OVER (ORDER BY cnt
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |     FROM (SELECT cnt, COUNT(*) AS freq FROM cnt$i GROUP BY 1))
         |   WHERE cum >= (n_keys * 99 + 99) // 100) AS p99_cnt,
         |  (SELECT k FROM cnt$i ORDER BY cnt DESC, k LIMIT 1)
         |    AS heavy_key,
         |  ROUND(CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE), 4)
         |    AS mean_cnt,
         |  ROUND(CAST(max_cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)
         |      / CAST(n_rows AS DOUBLE), 4) AS skew_ratio,
         |  (max_cnt * n_keys + n_rows - 1) // n_rows AS salt
         |FROM st$i""".stripMargin
    }
    val ctes = SkewCols.zipWithIndex.map { case (c, i) =>
      s"""cnt$i AS (SELECT CAST($c AS BIGINT) AS k, COUNT(*) AS cnt
         |          FROM lineitem GROUP BY 1),
         |st$i AS (SELECT COUNT(*) AS n_keys,
         |           CAST(SUM(cnt) AS BIGINT) AS n_rows,
         |           MAX(cnt) AS max_cnt FROM cnt$i)""".stripMargin
    }.mkString(",\n")
    s"WITH $ctes\n" + blocks.mkString("\nUNION ALL\n")
  }

  /** bit-for-bit Morton interleave replay: 32 disjoint-bit terms summed */
  private val zorderOracle: String = {
    // every term fully parenthesized: SQL's + binds tighter than <<
    val terms = (0 until 16).flatMap { i =>
      Seq(s"(((x >> $i) & 1) << ${2 * i})",
        s"(((y >> $i) & 1) << ${2 * i + 1})")
    }.mkString("\n|      + ")
    s"""WITH o AS (
       |  SELECT CAST(o_custkey AS BIGINT) AS ck,
       |    epoch_us(o_orderdate) // 86400000000 AS day
       |  FROM orders),
       |b AS (SELECT MIN(ck) AS mnc, MAX(ck) AS mxc,
       |        MIN(day) AS mnd, MAX(day) AS mxd FROM o),
       |q AS (
       |  SELECT ck, day,
       |    (ck - mnc) * 65535 // GREATEST(1, mxc - mnc) AS x,
       |    (day - mnd) * 65535 // GREATEST(1, mxd - mnd) AS y
       |  FROM o, b),
       |z AS (
       |  SELECT ck, day,
       |    ($terms) AS z
       |  FROM q),
       |f AS (SELECT ck, day, z // 67108864 AS file_id FROM z)
       |SELECT file_id, COUNT(*) AS n_rows,
       |  MIN(ck) AS min_ck, MAX(ck) AS max_ck,
       |  MIN(day) AS min_day, MAX(day) AS max_day,
       |  MAX(ck) - MIN(ck) AS ck_span,
       |  MAX(day) - MIN(day) AS day_span
       |FROM f GROUP BY 1""".stripMargin
  }

  /** The deletion-neighborhood serve's oracle: INDEPENDENT brute force
    * — length-banded all-pairs levenshtein (feasible at oracle sf),
    * keep lev <= 1, rank by the same (lev, jac DESC, ckey) rule. The
    * engine's variant index must reproduce the true argmin exactly;
    * nothing about the index construction is replayed. */
  private val entityResolveExactOracle: String =
    """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS ckey,
        |             lower(c_name || ' ' || c_mktsegment || ' n'
        |               || CAST(c_nationkey AS VARCHAR)) AS name
        |           FROM customer),
        |dirty AS (SELECT ckey AS rid,
        |    substr(name, 1, CAST(10 + ckey % 8 AS INT))
        |      || substr(name, CAST(12 + ckey % 8 AS INT)) AS name
        |  FROM c),
        |cand AS (SELECT d.rid, d.name AS dn, c2.ckey, c2.name AS cn,
        |           levenshtein(d.name, c2.name) AS lev
        |         FROM dirty d JOIN c c2
        |           ON len(c2.name) BETWEEN len(d.name) - 1
        |             AND len(d.name) + 1
        |         WHERE levenshtein(d.name, c2.name) <= 1),
        |cg AS (SELECT DISTINCT ckey, substr(name, CAST(i AS INT), 3) AS g
        |       FROM c, LATERAL (SELECT unnest(generate_series(1,
        |         greatest(len(name) - 2, 1))) AS i) u),
        |dgm AS (SELECT DISTINCT rid, substr(name, CAST(i AS INT), 3) AS g
        |        FROM dirty, LATERAL (SELECT unnest(generate_series(1,
        |          greatest(len(name) - 2, 1))) AS i) u),
        |na AS (SELECT ckey, COUNT(*) AS na FROM cg GROUP BY 1),
        |nb AS (SELECT rid, COUNT(*) AS nb FROM dgm GROUP BY 1),
        |sh AS (SELECT cd.rid, cd.ckey, COUNT(*) AS shared
        |       FROM cand cd JOIN dgm d ON d.rid = cd.rid
        |       JOIN cg c2 ON c2.ckey = cd.ckey AND c2.g = d.g
        |       GROUP BY 1, 2),
        |sc AS (SELECT cd.rid, cd.ckey, cd.lev,
        |         ROUND(CAST(COALESCE(sh.shared, 0) AS DOUBLE)
        |           / CAST(na.na + nb.nb - COALESCE(sh.shared, 0)
        |             AS DOUBLE), 4) AS jac
        |       FROM cand cd
        |       LEFT JOIN sh ON sh.rid = cd.rid AND sh.ckey = cd.ckey
        |       JOIN na ON na.ckey = cd.ckey
        |       JOIN nb ON nb.rid = cd.rid),
        |b AS (SELECT rid, ckey, lev, jac, ROW_NUMBER() OVER (
        |        PARTITION BY rid ORDER BY lev, jac DESC, ckey) AS rn
        |      FROM sc)
        |SELECT rid, ckey AS matched_key, CAST(lev AS BIGINT) AS lev,
        |  jac, ckey = rid AS hit
        |FROM b WHERE rn = 1""".stripMargin

  /** The general blocked-pipeline oracle — replays the identical
    * two-pass blocking + verification. */
  private val entityResolveOracle: String =
    """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS ckey,
        |             lower(c_name || ' ' || c_mktsegment || ' n'
        |               || CAST(c_nationkey AS VARCHAR)) AS name
        |           FROM customer),
        |dirty AS (SELECT ckey AS rid,
        |    substr(name, 1, CAST(10 + ckey % 8 AS INT))
        |      || substr(name, CAST(12 + ckey % 8 AS INT)) AS name
        |  FROM c),
        |cg AS (SELECT DISTINCT ckey, substr(name, CAST(i AS INT), 3) AS g
        |       FROM c, LATERAL (SELECT unnest(generate_series(1,
        |         greatest(len(name) - 2, 1))) AS i) u),
        |dgm AS (SELECT DISTINCT rid, substr(name, CAST(i AS INT), 3) AS g
        |        FROM dirty, LATERAL (SELECT unnest(generate_series(1,
        |          greatest(len(name) - 2, 1))) AS i) u),
        |nw AS (SELECT COUNT(*) AS n FROM c),
        |gw AS (SELECT 5 + CASE WHEN n > 32768 THEN 1 ELSE 0 END
        |         + CASE WHEN n > 262144 THEN 1 ELSE 0 END
        |         + CASE WHEN n > 2097152 THEN 1 ELSE 0 END
        |         + CASE WHEN n > 16777216 THEN 1 ELSE 0 END AS g
        |       FROM nw),
        |cg5 AS (SELECT DISTINCT ckey, len(name) AS cl,
        |          substr(name, CAST(i AS INT), CAST(gw.g AS INT)) AS g
        |        FROM c, gw, LATERAL (SELECT unnest(generate_series(1,
        |          greatest(len(name) - (gw.g - 1), 1))) AS i) u),
        |dg5 AS (SELECT DISTINCT rid, len(name) AS dl,
        |          substr(name, CAST(i AS INT), CAST(gw.g AS INT)) AS g
        |        FROM dirty, gw, LATERAL (SELECT unnest(generate_series(1,
        |          greatest(len(name) - (gw.g - 1), 1))) AS i) u),
        |dfr AS (SELECT g, COUNT(*) AS df FROM cg5 GROUP BY 1),
        |pr AS (SELECT rid, g, dl FROM (
        |    SELECT d.rid, d.g, d.dl, ROW_NUMBER() OVER (PARTITION BY
        |      d.rid ORDER BY f.df, d.g) AS rn
        |    FROM dg5 d JOIN dfr f ON f.g = d.g
        |    WHERE f.df <= 32) z WHERE rn <= 4),
        |cand1 AS (SELECT DISTINCT p.rid, c2.ckey
        |          FROM pr p JOIN cg5 c2 ON c2.g = p.g
        |          WHERE abs(p.dl - c2.cl) <= 1),
        |lv1 AS (SELECT cd.rid, cd.ckey,
        |          levenshtein(d.name, c2.name) AS lev
        |        FROM cand1 cd JOIN dirty d ON d.rid = cd.rid
        |        JOIN c c2 ON c2.ckey = cd.ckey),
        |retry AS (SELECT rid FROM dirty WHERE rid NOT IN (
        |            SELECT rid FROM lv1 WHERE lev <= 1)),
        |cvar AS (SELECT ckey,
        |           substr(name, 1, CAST(p - 1 AS INT))
        |             || substr(name, CAST(p + 1 AS INT)) AS vn
        |         FROM c, LATERAL (SELECT unnest(generate_series(11,
        |           18)) AS p) u),
        |cand2 AS (SELECT DISTINCT d.rid, cv.ckey
        |          FROM dirty d JOIN retry r ON r.rid = d.rid
        |          JOIN cvar cv ON cv.vn = d.name
        |          EXCEPT SELECT rid, ckey FROM cand1),
        |cand AS (SELECT rid, ckey FROM cand1
        |         UNION SELECT rid, ckey FROM cand2),
        |na AS (SELECT ckey, COUNT(*) AS na FROM cg GROUP BY 1),
        |nb AS (SELECT rid, COUNT(*) AS nb FROM dgm GROUP BY 1),
        |sh AS (SELECT cd.rid, cd.ckey, COUNT(*) AS shared
        |       FROM cand cd JOIN dgm d ON d.rid = cd.rid
        |       JOIN cg c2 ON c2.ckey = cd.ckey AND c2.g = d.g
        |       GROUP BY 1, 2),
        |sc AS (SELECT sh.rid, sh.ckey,
        |         levenshtein(dd.name, cc.name) AS lev,
        |         ROUND(CAST(shared AS DOUBLE)
        |           / CAST(na.na + nb.nb - shared AS DOUBLE), 4) AS jac
        |       FROM sh JOIN na ON na.ckey = sh.ckey
        |       JOIN nb ON nb.rid = sh.rid
        |       JOIN dirty dd ON dd.rid = sh.rid
        |       JOIN c cc ON cc.ckey = sh.ckey),
        |b AS (SELECT rid, ckey, lev, jac, ROW_NUMBER() OVER (
        |        PARTITION BY rid ORDER BY lev, jac DESC, ckey) AS rn
        |      FROM sc)
        |SELECT rid, ckey AS matched_key, CAST(lev AS BIGINT) AS lev,
        |  jac, ckey = rid AS hit
        |FROM b WHERE rn = 1""".stripMargin

  /** Pruning oracle: the same z chain as zorderOracle plus the naive
    * layout, bounds-derived probes, interval-overlap file pricing and
    * exact row counts. */
  private val zorderPruningOracle: String = {
    val terms = (0 until 16).flatMap { i =>
      Seq(s"(((x >> $i) & 1) << ${2 * i})",
        s"(((y >> $i) & 1) << ${2 * i + 1})")
    }.mkString("\n|      + ")
    s"""WITH o AS (
       |  SELECT CAST(o_orderkey AS BIGINT) AS ok,
       |    CAST(o_custkey AS BIGINT) AS ck,
       |    epoch_us(o_orderdate) // 86400000000 AS day
       |  FROM orders),
       |b AS (SELECT MIN(ck) AS mnc, MAX(ck) AS mxc,
       |        MIN(day) AS mnd, MAX(day) AS mxd FROM o),
       |q AS (SELECT ok, ck, day,
       |    (ck - mnc) * 65535 // GREATEST(1, mxc - mnc) AS x,
       |    (day - mnd) * 65535 // GREATEST(1, mxd - mnd) AS y
       |  FROM o, b),
       |zf AS (SELECT ck, day,
       |    ($terms) // 67108864 AS file_id FROM q),
       |zs AS (SELECT file_id, COUNT(*) AS n_rows, MIN(ck) AS min_ck,
       |        MAX(ck) AS max_ck, MIN(day) AS min_day,
       |        MAX(day) AS max_day
       |      FROM zf GROUP BY 1),
       |ns AS (SELECT ok // 1024 AS file_id, COUNT(*) AS n_rows,
       |        MIN(ck) AS min_ck, MAX(ck) AS max_ck,
       |        MIN(day) AS min_day, MAX(day) AS max_day
       |      FROM o GROUP BY 1),
       |pr AS (SELECT * FROM (VALUES (0,'ck',0),(1,'ck',1),(2,'ck',2),
       |        (3,'ck',3),(4,'ck',4),(5,'day',0),(6,'day',1),
       |        (7,'day',2),(8,'day',3),(9,'day',4)) v(pid, dim, slot)),
       |pp AS (SELECT CAST(pid AS BIGINT) AS pid, dim,
       |        CASE WHEN dim = 'ck' THEN mnc + slot * (mxc - mnc) // 5
       |             ELSE mnd + slot * (mxd - mnd) // 5 END AS lo,
       |        CASE WHEN dim = 'ck'
       |          THEN mnc + slot * (mxc - mnc) // 5 + (mxc - mnc) // 10
       |          ELSE mnd + slot * (mxd - mnd) // 5 + (mxd - mnd) // 10
       |        END AS hi
       |      FROM pr, b),
       |pz AS (SELECT pp.pid, COUNT(*) AS files_z,
       |        SUM(zs.n_rows) AS rows_z
       |      FROM pp JOIN zs ON (pp.dim = 'ck' AND zs.min_ck <= pp.hi
       |          AND zs.max_ck >= pp.lo)
       |        OR (pp.dim = 'day' AND zs.min_day <= pp.hi
       |          AND zs.max_day >= pp.lo)
       |      GROUP BY 1),
       |pn AS (SELECT pp.pid, COUNT(*) AS files_naive,
       |        SUM(ns.n_rows) AS rows_naive
       |      FROM pp JOIN ns ON (pp.dim = 'ck' AND ns.min_ck <= pp.hi
       |          AND ns.max_ck >= pp.lo)
       |        OR (pp.dim = 'day' AND ns.min_day <= pp.hi
       |          AND ns.max_day >= pp.lo)
       |      GROUP BY 1),
       |px AS (SELECT pp.pid, COUNT(*) AS rows_match FROM pp JOIN o
       |        ON (pp.dim = 'ck' AND o.ck BETWEEN pp.lo AND pp.hi)
       |        OR (pp.dim = 'day' AND o.day BETWEEN pp.lo AND pp.hi)
       |      GROUP BY 1)
       |SELECT pp.pid, pp.dim, pp.lo, pp.hi,
       |  CAST(COALESCE(pz.files_z, 0) AS BIGINT) AS files_z,
       |  CAST(COALESCE(pz.rows_z, 0) AS BIGINT) AS rows_z,
       |  CAST(COALESCE(pn.files_naive, 0) AS BIGINT) AS files_naive,
       |  CAST(COALESCE(pn.rows_naive, 0) AS BIGINT) AS rows_naive,
       |  CAST(COALESCE(px.rows_match, 0) AS BIGINT) AS rows_match
       |FROM pp LEFT JOIN pz USING (pid) LEFT JOIN pn USING (pid)
       |LEFT JOIN px USING (pid)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_shard_rebalance" -> {
      def mix(s: String) =
        s"""(((h * 131 + ($s + 1) * 2654435761) % 1000000007)
           |  * ((h * 131 + ($s + 1) * 2654435761) % 1000000007))
           |  % 1000000007""".stripMargin.replace("\n", " ")
      def hrw(n: Int) =
        s"""15 - (list_max(list_transform(generate_series(0, ${n - 1}),
           |  s -> (${mix("s")}) * 16 + (15 - s))) % 16)""".stripMargin
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |    ${TextSql.fp(TextSql.norm("text"))} AS h
         |  FROM documents),
         |a AS (SELECT doc_id, h, h % 8 AS mod8, h % 9 AS mod9,
         |        ${hrw(8)} AS hrw8, ${hrw(9)} AS hrw9
         |      FROM d),
         |b AS (SELECT *, mod8 <> mod9 AS moved_mod,
         |        hrw8 <> hrw9 AS moved_hrw FROM a),
         |m AS (SELECT COUNT(*) AS n_keys,
         |        SUM(CASE WHEN moved_mod THEN 1 ELSE 0 END)
         |          AS n_moved_mod,
         |        SUM(CASE WHEN moved_hrw THEN 1 ELSE 0 END)
         |          AS n_moved_hrw
         |      FROM b)
         |SELECT b.doc_id, b.h, CAST(b.mod8 AS BIGINT) AS mod8,
         |  CAST(b.mod9 AS BIGINT) AS mod9,
         |  CAST(b.hrw8 AS BIGINT) AS hrw8,
         |  CAST(b.hrw9 AS BIGINT) AS hrw9, b.moved_mod, b.moved_hrw,
         |  CAST(m.n_keys AS BIGINT) AS n_keys,
         |  CAST(m.n_moved_mod AS BIGINT) AS n_moved_mod,
         |  CAST(m.n_moved_hrw AS BIGINT) AS n_moved_hrw,
         |  CAST(m.n_moved_mod * 10000 // m.n_keys AS BIGINT)
         |    AS mod_moved_bp,
         |  CAST(m.n_moved_hrw * 10000 // m.n_keys AS BIGINT)
         |    AS hrw_moved_bp
         |FROM b, m""".stripMargin
    },
    "q_zorder_pruning" -> zorderPruningOracle,
    "q_data_contract" ->
      """SELECT 'lineitem' AS "table",
        |  'l_quantity_range_1_50' AS "check",
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
        |  SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
        |    THEN 1 ELSE 0 END) = 0 AS pass
        |FROM lineitem
        |UNION ALL
        |SELECT 'lineitem', 'l_extendedprice_positive', COUNT(*),
        |  CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) = 0
        |FROM lineitem
        |UNION ALL
        |SELECT 'events', 'event_type_in_domain', COUNT(*),
        |  CAST(SUM(CASE WHEN event_type NOT IN ('view', 'click',
        |    'purchase', 'signup', 'error') THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  SUM(CASE WHEN event_type NOT IN ('view', 'click', 'purchase',
        |    'signup', 'error') THEN 1 ELSE 0 END) = 0
        |FROM events
        |UNION ALL
        |SELECT 'events', 'value_le_400', COUNT(*),
        |  CAST(SUM(CASE WHEN value > 400.0 THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  SUM(CASE WHEN value > 400.0 THEN 1 ELSE 0 END) = 0
        |FROM events
        |UNION ALL
        |SELECT 'customer', 'c_name_prefixed', COUNT(*),
        |  CAST(SUM(CASE WHEN c_name NOT LIKE 'Customer#%'
        |    THEN 1 ELSE 0 END) AS BIGINT),
        |  SUM(CASE WHEN c_name NOT LIKE 'Customer#%' THEN 1 ELSE 0 END)
        |    = 0
        |FROM customer
        |UNION ALL
        |SELECT 'documents', 'n_chars_matches_text', COUNT(*),
        |  CAST(SUM(CASE WHEN n_chars <> LENGTH(text) THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  SUM(CASE WHEN n_chars <> LENGTH(text) THEN 1 ELSE 0 END) = 0
        |FROM documents
        |UNION ALL
        |SELECT 'orders', 'o_orderkey_unique', COUNT(*),
        |  CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
        |  COUNT(*) - COUNT(DISTINCT o_orderkey) = 0
        |FROM orders
        |UNION ALL
        |SELECT 'orders', 'o_custkey_fk_customer', COUNT(*),
        |  CAST(SUM(CASE WHEN o_custkey NOT IN
        |    (SELECT c_custkey FROM customer) THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  SUM(CASE WHEN o_custkey NOT IN
        |    (SELECT c_custkey FROM customer) THEN 1 ELSE 0 END) = 0
        |FROM orders""".stripMargin,
    "q_kanonymity" ->
      """WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |    c_mktsegment AS segment,
        |    (CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) + 10000000)
        |      // 500000 - 20 AS bal_bucket
        |  FROM customer),
        |g0 AS (SELECT nation, segment, bal_bucket,
        |         COUNT(*) AS n_members
        |       FROM c GROUP BY 1, 2, 3),
        |pass AS (SELECT nation, segment, bal_bucket, n_members,
        |           'k_anon' AS status
        |         FROM g0 WHERE n_members >= 5),
        |gen AS (SELECT nation, segment, CAST(-1 AS BIGINT) AS bal_bucket,
        |          SUM(n_members) AS n_members,
        |          CASE WHEN SUM(n_members) >= 5 THEN 'generalized'
        |               ELSE 'suppressed' END AS status
        |        FROM g0 WHERE n_members < 5 GROUP BY 1, 2)
        |SELECT nation, segment, bal_bucket,
        |  CAST(n_members AS BIGINT) AS n_members, status
        |FROM pass
        |UNION ALL
        |SELECT nation, segment, bal_bucket,
        |  CAST(n_members AS BIGINT), status FROM gen""".stripMargin,

    "q_item_cofreq" ->
      """WITH b0 AS (SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS u,
        |              CAST(l.l_partkey AS BIGINT) AS i
        |            FROM lineitem l JOIN orders o
        |              ON l.l_orderkey = o.o_orderkey),
        |sz AS (SELECT u, COUNT(*) AS s FROM b0 GROUP BY 1),
        |b AS (SELECT b0.u, b0.i FROM b0 JOIN sz USING (u)
        |      WHERE s <= 48 OR (b0.u * 31 + b0.i * 17) % s < 48),
        |na AS (SELECT i, COUNT(*) AS n FROM b GROUP BY 1),
        |p AS (SELECT a.i AS ia, c.i AS ib, COUNT(*) AS co
        |      FROM b a JOIN b c ON a.u = c.u AND a.i < c.i
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |s AS (SELECT ia, ib, co,
        |        ROUND(co / sqrt(CAST(x.n * y.n AS DOUBLE)), 4) AS cos4
        |      FROM p JOIN na x ON x.i = p.ia JOIN na y ON y.i = p.ib),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY ia
        |        ORDER BY cos4 DESC, ib) AS INT) AS rk FROM s)
        |SELECT ia, rk AS "rank", ib, CAST(co AS BIGINT) AS co, cos4
        |FROM r WHERE rk <= 5""".stripMargin,

    "q_ldiversity" ->
      """WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |    (CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) + 10000000)
        |      // 500000 - 20 AS bal_bucket,
        |    c_mktsegment AS segment
        |  FROM customer),
        |g AS (SELECT nation, bal_bucket, segment, COUNT(*) AS cnt
        |      FROM c GROUP BY 1, 2, 3),
        |r AS (SELECT nation, bal_bucket,
        |        CAST(SUM(cnt) AS BIGINT) AS n_members,
        |        CAST(COUNT(*) AS BIGINT) AS n_distinct_sensitive,
        |        CAST(MAX(cnt) AS BIGINT) AS dom_cnt
        |      FROM g GROUP BY 1, 2)
        |SELECT nation, bal_bucket, n_members, n_distinct_sensitive,
        |  CAST(dom_cnt * 1000 // n_members AS BIGINT) AS dom_share_pm,
        |  n_distinct_sensitive >= 2
        |    AND dom_cnt * 1000 // n_members <= 800 AS l_diverse
        |FROM r""".stripMargin,

    // DP release: the oracle replays the count, the seeded inverse-CDF
    // Laplace draw and the identical op order
    "q_dp_histogram" ->
      """WITH g AS (SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |    c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM customer GROUP BY 1, 2),
        |s AS (SELECT nation, segment, n,
        |    ((nation * 1000 + ascii(substr(segment, 1, 1)) * 10
        |      + length(segment)) * 2654435761 + 97) % 1000000007 AS h
        |  FROM g),
        |u AS (SELECT nation, segment, n,
        |    (CAST(h AS DOUBLE) + 0.5) / 1000000007.0 AS uu FROM s)
        |SELECT nation, segment,
        |  ROUND(n + (-sign(uu - 0.5)
        |    * ln(1.0 - 2.0 * abs(uu - 0.5))), 2) AS noisy_n,
        |  1.0 AS epsilon
        |FROM u""".stripMargin,

    "q_sar_export" ->
      """WITH subs AS (SELECT CAST(c_custkey AS BIGINT) AS subject
        |              FROM customer WHERE c_custkey % 125 = 7),
        |cf AS (SELECT CAST(c_custkey AS BIGINT) AS subject,
        |         COUNT(*) AS n_rows,
        |         SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS dg
        |       FROM customer WHERE c_custkey % 125 = 7 GROUP BY 1),
        |ofr AS (SELECT CAST(o_custkey AS BIGINT) AS subject,
        |          COUNT(*) AS n_rows,
        |          SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS dg
        |        FROM orders WHERE o_custkey % 125 = 7 GROUP BY 1),
        |lf AS (SELECT CAST(o.o_custkey AS BIGINT) AS subject,
        |         COUNT(*) AS n_rows,
        |         SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT))
        |           AS dg
        |       FROM lineitem l JOIN orders o
        |         ON l.l_orderkey = o.o_orderkey
        |       WHERE o.o_custkey % 125 = 7 GROUP BY 1),
        |ef AS (SELECT CAST(user_id AS BIGINT) AS subject,
        |         COUNT(*) AS n_rows,
        |         SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS dg
        |       FROM events WHERE user_id % 125 = 7 GROUP BY 1)
        |SELECT s.subject, t.name AS "table",
        |  CAST(COALESCE(f.n_rows, 0) AS BIGINT) AS n_rows,
        |  CAST(COALESCE(f.dg, 0) AS BIGINT) AS digest_cents
        |FROM subs s
        |CROSS JOIN (SELECT unnest(['customer', 'orders', 'lineitem',
        |  'events']) AS name) t
        |LEFT JOIN (SELECT 'customer' AS name, * FROM cf
        |           UNION ALL SELECT 'orders', * FROM ofr
        |           UNION ALL SELECT 'lineitem', * FROM lf
        |           UNION ALL SELECT 'events', * FROM ef) f
        |  ON f.name = t.name AND f.subject = s.subject""".stripMargin,

    // cascade + audit derived with set predicates (NOT IN) instead of
    // the engine's anti-joins — independent formulations of the same
    // referential rules; orphan counts must come out zero on both
    "q_cascade_delete" ->
      """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS ck
        |           FROM customer),
        |o AS (SELECT CAST(o_orderkey AS BIGINT) AS ok,
        |        CAST(o_custkey AS BIGINT) AS ock FROM orders),
        |li AS (SELECT CAST(l_orderkey AS BIGINT) AS lok FROM lineitem),
        |keepc AS (SELECT ck FROM c WHERE ck % 37 <> 0),
        |delo AS (SELECT ok FROM o WHERE ock % 37 = 0),
        |keepo AS (SELECT ok, ock FROM o WHERE ock % 37 <> 0),
        |keepli AS (SELECT lok FROM li
        |           WHERE lok NOT IN (SELECT ok FROM delo)),
        |orpho AS (SELECT ok FROM keepo
        |          WHERE ock NOT IN (SELECT ck FROM keepc)),
        |orphli AS (SELECT lok FROM keepli
        |           WHERE lok NOT IN (SELECT ok FROM keepo))
        |SELECT 'customer' AS "table",
        |  (SELECT COUNT(*) FROM c) AS n_before,
        |  (SELECT COUNT(*) FROM c) - (SELECT COUNT(*) FROM keepc)
        |    AS n_deleted,
        |  (SELECT COUNT(*) FROM keepc) AS n_after,
        |  CAST(0 AS BIGINT) AS n_orphans
        |UNION ALL
        |SELECT 'orders', (SELECT COUNT(*) FROM o),
        |  (SELECT COUNT(*) FROM o) - (SELECT COUNT(*) FROM keepo),
        |  (SELECT COUNT(*) FROM keepo),
        |  (SELECT COUNT(*) FROM orpho)
        |UNION ALL
        |SELECT 'lineitem', (SELECT COUNT(*) FROM li),
        |  (SELECT COUNT(*) FROM li) - (SELECT COUNT(*) FROM keepli),
        |  (SELECT COUNT(*) FROM keepli),
        |  (SELECT COUNT(*) FROM orphli)""".stripMargin,
    // the dirty registry, the rarest-prefix blocking (+ length
    // filter), the clean-tail second-chance pass for rids holding no
    // lev<=1 candidate, the exact Levenshtein verification and the
    // Jaccard tie-break all replayed; best match by the same (lev,
    // jac desc, ckey) rule as the engine's k=1 heap
    "q_entity_resolve" -> entityResolveOracle,
    // served-from-artifacts twin: identical results by construction
    // (the indexed-ANN rule), so the identical oracle
    "q_entity_resolve_indexed" -> entityResolveExactOracle,

    "q_rolling_revenue" ->
      """WITH o AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
        |    o_custkey, o_totalprice
        |  FROM orders),
        |d AS (
        |  SELECT n_name, day,
        |    SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS cents,
        |    COUNT(*) AS n_orders
        |  FROM o
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2)
        |SELECT n_name, day,
        |  ROUND(cents / 100.0, 2) AS day_revenue,
        |  ROUND(SUM(cents) OVER w / 100.0, 2) AS roll_revenue_7d,
        |  CAST(SUM(n_orders) OVER w AS BIGINT) AS roll_orders_7d
        |FROM d
        |WINDOW w AS (PARTITION BY n_name ORDER BY day
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,

    // Spark's grouping_id bit order: first rollup column = MSB
    "q_sales_cube" ->
      """SELECT n_name,
        |  CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
        |  ROUND(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
        |    / 100.0, 2) AS revenue,
        |  COUNT(*) AS n_orders,
        |  CAST(GROUPING(n_name) * 2 + GROUPING(o_year) AS BIGINT) AS gid
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name, o_year)""".stripMargin,

    "q_zorder_layout" -> zorderOracle,
    // per-file blooms + probes replayed with the same affine hashes;
    // membership tested via arithmetic shift (positive 32-bit words),
    // exact presence from an independent distinct-pair join
    "q_bloom_skip_index" ->
      s"""WITH o AS (SELECT DISTINCT
        |             CAST(o_orderkey AS BIGINT) // 1024 AS file_id,
        |             CAST(o_custkey AS BIGINT) AS key
        |           FROM orders),
        |br AS (SELECT file_id, p // 32 AS word,
        |         bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT))
        |           AS bits
        |       FROM (SELECT o.file_id, ${TextSql.bloomPos("o.key", 4096)} AS p
        |             FROM o, ${TextSql.bloomHashes})
        |       GROUP BY 1, 2),
        |fl AS (SELECT DISTINCT file_id FROM o),
        |ck AS (SELECT CAST(c_custkey AS BIGINT) AS key FROM customer
        |       WHERE c_custkey % 499 = 3),
        |pr AS (SELECT key FROM ck
        |       UNION ALL SELECT key + 1000000000 FROM ck),
        |ph AS (SELECT pr.key, ${TextSql.bloomPos("pr.key", 4096)} AS p
        |       FROM pr, ${TextSql.bloomHashes}),
        |t AS (SELECT fl.file_id, ph.key,
        |        CASE WHEN (COALESCE(br.bits, 0)
        |               >> CAST(ph.p % 32 AS INT)) % 2 = 1
        |          THEN 1 ELSE 0 END AS hit
        |      FROM fl CROSS JOIN ph
        |      LEFT JOIN br ON br.file_id = fl.file_id
        |        AND br.word = ph.p // 32),
        |g AS (SELECT file_id, key, SUM(hit) = 4 AS bloom_hit
        |      FROM t GROUP BY 1, 2)
        |SELECT g.file_id, g.key AS probe_key, g.bloom_hit,
        |  o.key IS NOT NULL AS present,
        |  g.bloom_hit AND o.key IS NULL AS false_positive
        |FROM g LEFT JOIN o ON o.file_id = g.file_id
        |  AND o.key = g.key""".stripMargin,
    "q_skew_report" -> skewReportOracle,
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  ROUND(SUM(l_quantity), 2) AS sum_qty,
        |  ROUND(SUM(CAST(ROUND((l_extendedprice) * 10000.0, 0) AS BIGINT)) / 10000.0, 2) AS sum_base_price,
        |  ROUND(SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000.0, 0) AS BIGINT)) / 10000.0, 2) AS sum_disc_price,
        |  ROUND(AVG(l_quantity), 4) AS avg_qty,
        |  ROUND(SUM(CAST(ROUND(l_discount * 100.0, 0) AS BIGINT))
        |      / (COUNT(*) * 100.0), 4) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_top_revenue" ->
      """SELECT n_name,
        |  ROUND(SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000.0, 0) AS BIGINT)) / 10000.0, 2) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q3_shipping" ->
      """SELECT o_orderkey, o_orderdate, o_orderpriority,
        |  ROUND(SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000.0, 0) AS BIGINT)) / 10000.0, 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 20""".stripMargin,

    "q5_local" ->
      """SELECT n_name,
        |  ROUND(SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000.0, 0) AS BIGINT)) / 10000.0, 2) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin,

    "q10_returns" ->
      """SELECT c_custkey, c_name, n_name,
        |  ROUND(SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000.0, 0) AS BIGINT)) / 10000.0, 2) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,

    "q7_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(YEAR(o_orderdate) AS INT) AS o_year,
        |  ROUND(SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000.0, 0) AS BIGINT)) / 10000.0, 2) AS volume,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name < n2.n_name
        |GROUP BY 1, 2, 3""".stripMargin,

    "q9_profit" ->
      """SELECT n_name, CAST(YEAR(o_orderdate) AS INT) AS o_year,
        |  ROUND(SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)
        |      - p_retailprice * l_quantity * 0.1) * 10000.0, 0)
        |    AS BIGINT)) / 10000.0, 2) AS profit,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_type = 'ECONOMY'
        |GROUP BY 1, 2""".stripMargin)
}
