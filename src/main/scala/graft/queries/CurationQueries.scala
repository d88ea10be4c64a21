package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._

/** Corpus-curation operators a training-data pipeline runs after
  * filtering/dedup: deterministic quota sampling (data mixing) and
  * sequence packing (token-budget binning). The reference has no text
  * surface — these extend the engine the same way the dedup/ANN families
  * do, with exact integer arithmetic so every step has a full DuckDB
  * oracle.
  *
  * Scale notes: the single-level queries shuffle once on `lang` (the
  * mixture key — low cardinality, high volume per key), which serializes
  * a dominant language through one task at corpus scale.
  * qPackSequencesSharded is the 100 TB form: the heavy window runs per
  * (lang, shard) and only ≤ Shards open-bin remainders per lang flow
  * through the per-lang merge window. The same composite-key treatment
  * applies to quota sampling when needed (rank within shards, re-rank
  * the ≤ Shards*Quota survivors).
  */
object CurationQueries {

  private val Budget = 512L // tokens per packed sequence
  private val Quota = 50 // docs kept per language
  private val Shards = 8 // per-lang parallelism of two-level packing

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        col("lang"))

  /** Sequence packing, next-fit by running token count: per language,
    * documents ordered by (est_tokens DESC, doc_id) accumulate into the
    * current bin until the budget would overflow — expressed as one
    * running-sum window (bin = tokens-before DIV budget), no iteration.
    * Output: one row per packed bin with its fill statistics. */
  def qPackSequences(spark: SparkSession, dir: String): DataFrame = {
    val toks = ceil(length(col("text")).cast("double") / lit(4.0))
      .cast("long")
    val w = Window.partitionBy("lang")
      .orderBy(col("tokens").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(spark, dir)
      .select(col("doc_id"), col("lang"), toks.as("tokens"))
      .withColumn("cum", sum("tokens").over(w))
      .withColumn("bin", expr(s"(cum - tokens) DIV $Budget"))
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("tokens").as("sum_tokens"))
      .select(col("lang"), col("bin"), col("n_docs"), col("sum_tokens"),
        round(col("sum_tokens").cast("double") / lit(Budget.toDouble), 4)
          .as("fill_ratio"))
  }

  /** TWO-LEVEL sequence packing — the 100 TB form of qPackSequences. The
    * single-level query's window partitions by `lang` alone, which at
    * corpus scale serializes a dominant language through ONE task. Here
    * the heavy running-sum window partitions by (lang, shard = doc_id %
    * Shards) — per-lang parallelism = Shards — and only each shard's OPEN
    * bin (its last, the one next-fit leaves underfull) flows into a
    * second next-fit pass per lang over ≤ Shards rows. Closed shard-local
    * bins are final; merged remainder bins are emitted with shard = -1.
    * Bin contents differ from the single-level packing (sharding changes
    * neighbor order), so the exact-semantics twin stays available as
    * qPackSequences; both are fully oracle-checked. */
  def qPackSequencesSharded(spark: SparkSession, dir: String): DataFrame = {
    val toks = ceil(length(col("text")).cast("double") / lit(4.0))
      .cast("long")
    val base = docs(spark, dir)
      .select(col("doc_id"), col("lang"), toks.as("tokens"))
      .withColumn("shard", (col("doc_id") % Shards).cast("int"))
    val w1 = Window.partitionBy("lang", "shard")
      .orderBy(col("tokens").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = base
      .withColumn("cum", sum("tokens").over(w1))
      .withColumn("bin", expr(s"(cum - tokens) DIV $Budget"))
      .groupBy("lang", "shard", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("tokens").as("sum_tokens"))
    val marked = local.withColumn("mx",
      max("bin").over(Window.partitionBy("lang", "shard")))
    val closed = marked.filter(col("bin") =!= col("mx"))
      .select("lang", "shard", "bin", "n_docs", "sum_tokens")
    val w2 = Window.partitionBy("lang")
      .orderBy(col("sum_tokens").desc, col("shard"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val merged = marked.filter(col("bin") === col("mx"))
      .select("lang", "shard", "n_docs", "sum_tokens")
      .withColumn("cum", sum("sum_tokens").over(w2))
      .withColumn("mbin", expr(s"(cum - sum_tokens) DIV $Budget"))
      .groupBy("lang", "mbin")
      .agg(sum("n_docs").as("n_docs"), sum("sum_tokens").as("sum_tokens"))
      .select(col("lang"), lit(-1).cast("int").as("shard"),
        col("mbin").as("bin"), col("n_docs"), col("sum_tokens"))
    closed.union(merged)
      .select(col("lang"), col("shard"), col("bin"), col("n_docs"),
        col("sum_tokens"),
        round(col("sum_tokens").cast("double") / lit(Budget.toDouble), 4)
          .as("fill_ratio"))
  }

  /** TOKEN-budget sampling (r11) — the quota sampler measured in the
    * unit that actually costs money: accept documents per language in
    * deterministic content-hash order until the language's TOKEN
    * budget fills (a doc-count quota over-serves languages with long
    * documents). Accept rule: a doc is kept while the running token
    * sum BEFORE it is under budget, so the crossing doc is included
    * (soft cap — the alternative leaves every budget short by a
    * partial doc). One per-lang window in hash order; at dominant-
    * language scale the row-129 two-level sharding applies the same
    * way. */
  def qSampleTokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val T = 4000L
    val toks = ceil(length(col("text")).cast("double") / lit(4.0))
      .cast("long")
    val w = Window.partitionBy("lang").orderBy("h", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        rollingFingerprint(norm(col("text"))).as("h"), toks.as("tokens"))
      .withColumn("cum_before",
        coalesce(sum("tokens").over(w), lit(0L)))
      .withColumn("accepted", col("cum_before") < T)
  }

  /** Packing MANIFEST (r11) — the per-document detail the trainer
    * actually consumes from row 51's bins: concatenate each language's
    * docs in the packing order and cut every Budget tokens; each doc
    * reports its bin, its rank within the bin, its start offset in the
    * bin's token space and whether it CROSSES the bin boundary (the
    * position where a loss mask / attention reset goes). Same window
    * arithmetic as qPackSequences, emitted per doc instead of per
    * bin. */
  def qPackManifest(spark: SparkSession, dir: String): DataFrame = {
    val toks = ceil(length(col("text")).cast("double") / lit(4.0))
      .cast("long")
    val w = Window.partitionBy("lang")
      .orderBy(col("tokens").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val binned = docs(spark, dir)
      .select(col("doc_id"), col("lang"), toks.as("tokens"))
      .withColumn("cum", sum("tokens").over(w))
      .withColumn("bin", expr(s"(cum - tokens) DIV $Budget"))
      .withColumn("start_tok", expr(s"(cum - tokens) % $Budget"))
    binned
      .withColumn("seq", row_number().over(
        Window.partitionBy("lang", "bin")
          .orderBy(col("tokens").desc, col("doc_id"))).cast("long"))
      .select(col("lang"), col("bin"), col("seq"), col("doc_id"),
        col("tokens"), col("start_tok"),
        (col("start_tok") + col("tokens") > Budget)
          .as("crosses_boundary"))
  }

  /** Quality-AWARE sampling (r11) — the CCNet production move that
    * composes row 86's terciles with row 112's deterministic
    * acceptance: head documents keep 100%, middle 50%, tail 10%
    * (exact integer thresholds against the content-hash mod 1e6, so
    * acceptance stays re-shard/renumber stable). The quality signal
    * GATES the sample instead of hard-dropping the tail — the shape
    * real pretraining mixes use (low-quality text is down-weighted,
    * not erased). */
  def qQualitySampling(spark: SparkSession, dir: String): DataFrame = {
    val t = qQualityThresholds(spark, dir)
      .select(col("doc_id"), col("lang"), col("score"), col("bucket"))
    val h = docs(spark, dir).select(col("doc_id"),
      rollingFingerprint(norm(col("text"))).as("h"))
    t.join(h, Seq("doc_id"))
      .withColumn("thresh",
        when(col("bucket") === "head", lit(1000000L))
          .when(col("bucket") === "middle", lit(500000L))
          .otherwise(lit(100000L)))
      .select(col("doc_id"), col("lang"), col("score"), col("bucket"),
        col("h"), col("thresh"),
        (pmod(col("h"), lit(1000000L)) < col("thresh")).as("accepted"))
  }

  /** Deterministic quota sampling (data mixing): per language keep the
    * `Quota` documents with the smallest (content hash, doc_id) — a
    * stable pseudo-random sample that never changes across runs,
    * partitions, or engines, because the hash is the exact-integer
    * rolling fingerprint of the normalized text.
    *
    * Top-Quota per lang runs through the bounded-heap aggregate
    * (functions.TopKAgg), NOT a rank window: `lang` is the same
    * low-cardinality/high-volume key that made single-level packing a
    * scale-killer, and a per-lang row_number sorts a dominant
    * language's whole corpus through one task. The heap aggregate
    * partial-combines to <= Quota rows per (map partition x lang)
    * before the shuffle — selection identical (h < 2^30, so the double
    * key is exact; doc_id breaks ties; rank = array position). */
  def qSampleQuota(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        rollingFingerprint(norm(col("text"))).as("h"))
      .groupBy("lang")
      .agg(graft.functions.TopKAgg(col("h").cast("double"), col("doc_id"),
        col("h"), Quota).as("tk"))
      .select(col("lang"), posexplode(col("tk")).as(Seq("pos", "t")))
      .select(col("t.tie").as("doc_id"), col("lang"),
        col("t.payload").as("h"), (col("pos") + 1).as("rk"))

  /** Two-level SHARDED quota sampling — the composite-key treatment
    * §1's scale notes promised for the quota sampler when a dominant
    * language would pour through one task: top-Quota runs per
    * (lang, shard = h mod Shards) first (bounded heaps, map-side
    * combined), then ONLY the ≤ Shards×Quota survivors re-rank per
    * lang. Top-k of per-shard top-k's is EXACT (any global top-Quota
    * row is top-Quota within its shard), so the output is identical to
    * the single-level form row for row — same oracle, and the spec
    * pins the equality. */
  def qSampleQuotaSharded(spark: SparkSession, dir: String): DataFrame = {
    val h = rollingFingerprint(norm(col("text")))
    val s1 = docs(spark, dir)
      .select(col("doc_id"), col("lang"), h.as("h"),
        pmod(h, lit(Shards.toLong)).as("shard"))
      .groupBy("lang", "shard")
      .agg(graft.functions.TopKAgg(col("h").cast("double"), col("doc_id"),
        col("h"), Quota).as("tk"))
      .select(col("lang"), explode(col("tk")).as("t"))
      .select(col("lang"), col("t.tie").as("doc_id"),
        col("t.payload").as("h"))
    s1.groupBy("lang")
      .agg(graft.functions.TopKAgg(col("h").cast("double"), col("doc_id"),
        col("h"), Quota).as("tk"))
      .select(col("lang"), posexplode(col("tk")).as(Seq("pos", "t")))
      .select(col("t.tie").as("doc_id"), col("lang"),
        col("t.payload").as("h"), (col("pos") + 1).as("rk"))
  }

  /** Deterministic epoch shuffle — the LAST step before tokens hit the
    * trainer: a reproducible pseudo-random global order (content-hash
    * keyed, so re-runs and re-shards produce byte-identical batches —
    * the property a training-restart audit depends on). Shard = hash
    * mod 64 spreads the sort: each shard orders independently by the
    * hash's high part (one bounded window per shard, never a global
    * single-task sort), and (shard, pos) IS the global order. Epochs
    * differ by salting the hash with the epoch number (epoch 1 here).
    */
  def qEpochShuffle(spark: SparkSession, dir: String): DataFrame = {
    val epoch = 1L
    val h = (rollingFingerprint(norm(col("text"))) * lit(2654435761L)
      + lit(epoch)) % lit(1000000007L)
    val w = Window.partitionBy("shard")
      .orderBy(col("hi"), col("doc_id"))
    docs(spark, dir)
      .select(col("doc_id"), col("lang"), h.as("h"))
      .withColumn("shard", pmod(col("h"), lit(64L)))
      .withColumn("hi", expr("h DIV 64"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("lang"), col("h"), col("shard"),
        col("pos"))
  }

  /** Mixture report: per (lang, source) token mass and its share of the
    * corpus — the table a data-mixing step reweights against. The grand
    * total is a broadcast 1-row aggregate (not an unpartitioned window);
    * token sums are exact integers, so the share is deterministic. */
  def qMixReport(spark: SparkSession, dir: String): DataFrame = {
    val toks = ceil(length(col("text")).cast("double") / lit(4.0))
      .cast("long")
    val g = Tables.load(spark, dir, "documents")
      .select(col("lang"), col("source"), toks.as("tokens"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("tokens").as("sum_tokens"))
    val total = g.agg(sum("sum_tokens").as("total_tokens"))
    g.crossJoin(broadcast(total))
      .select(col("lang"), col("source"), col("n_docs"), col("sum_tokens"),
        round(col("sum_tokens").cast("double")
          / col("total_tokens").cast("double"), 6).as("token_share"))
  }

  /** Deterministic stratified train/val/test split (8/1/1): the bucket
    * is the CONTENT hash (rolling fingerprint of normalized text) mod
    * 10 — stable under re-sharding and doc_id renumbering, so a
    * document can never migrate between train and eval across runs
    * (the leakage-safety property decontamination assumes). Stratum
    * stats come from a groupBy on (lang, split) broadcast-joined back,
    * NOT a per-lang window — `lang` is the low-cardinality/high-volume
    * key that must never sort a dominant language through one task;
    * per-lang totals derive from the stratum counts without a second
    * corpus scan. */
  def qSplitStratified(spark: SparkSession, dir: String): DataFrame = {
    // materialize the fingerprint table once: both the stratum
    // aggregate and the join-back consume it, and without the lineage
    // cut the interpreted fingerprint fold re-scans the corpus text
    // twice (measured 4.6x wall at 4x corpus; 0.94x after)
    val base = docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        rollingFingerprint(norm(col("text"))).as("h"))
      .withColumn("bucket", col("h") % 10)
      .withColumn("split",
        when(col("bucket") < 8, lit("train"))
          .when(col("bucket") === 8, lit("val"))
          .otherwise(lit("test")))
      .localCheckpoint()
    val strata = base.groupBy("lang", "split")
      .agg(count(lit(1)).as("n_stratum"))
    val langTotals = strata.groupBy("lang")
      .agg(sum("n_stratum").as("n_lang"))
    base
      .join(broadcast(strata), Seq("lang", "split"))
      .join(broadcast(langTotals), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("h"), col("bucket"),
        col("split"), col("n_stratum"),
        round(col("n_stratum").cast("double")
          / col("n_lang").cast("double"), 4).as("stratum_frac"))
  }

  private val HistBucket = 64L // histogram bucket width in chars

  /** Corpus length profiling with HISTOGRAM quantiles: per language,
    * doc counts, total mass, and p50/p90 length read off a fixed-width
    * bucket histogram. An exact percentile aggregate buffers every
    * length of a language in one task (the TypedImperativeAggregate
    * scale-killer); the histogram form is two map-side-combined
    * aggregates plus a window over BUCKET rows (bounded by
    * max_len/bucket_width, not corpus size) — the production sketch
    * shape, deterministic by construction. Quantile = lower bound of
    * the first bucket whose cumulative count reaches ceil(q*n). */
  def qCorpusStats(spark: SparkSession, dir: String): DataFrame = {
    val hist = docs(spark, dir)
      .select(col("lang"), length(col("text")).cast("long").as("len"))
      .groupBy(col("lang"), (col("len") / HistBucket).cast("long").as("b"))
      .agg(count(lit(1)).as("c"), sum("len").as("mass"),
        max("len").as("mx"))
    val w = Window.partitionBy("lang").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum("c").over(w))
      .withColumn("n", sum("c").over(Window.partitionBy("lang")))
      .withColumn("total_chars",
        sum("mass").over(Window.partitionBy("lang")))
      .withColumn("max_len", max("mx").over(Window.partitionBy("lang")))
    // ceil(q*n) in INTEGER arithmetic ((n*num + den - 1) div den):
    // Spark parses 0.9 as an inexact double while DuckDB parses it as
    // exact DECIMAL — ceil(0.9*1000) would be 901 vs 900 across engines
    def qAt(num: Int, den: Int) = min(when(
      col("cum") >= ((col("n") * num + den - 1) / den).cast("long"),
      col("b") * HistBucket))
    cum.groupBy("lang")
      .agg(first("n").as("n_docs"),
        first("total_chars").as("total_chars"),
        first("max_len").as("max_len"),
        qAt(1, 2).as("p50_len"), qAt(9, 10).as("p90_len"))
      .select(col("lang"), col("n_docs"), col("total_chars"),
        col("p50_len"), col("p90_len"), col("max_len"))
  }

  /** CCNet-style quality bucketing (Wenzek et al. 2020 shape): per
    * language, documents split into head/middle/tail terciles of a
    * quality score — the partition a curation pipeline samples "head"
    * from. Score = stopword hits per 10k words in EXACT integer
    * arithmetic (milli-ratio DIV, -1 sentinel for 0-word docs), so the
    * tercile cut points are engine-independent.
    *
    * Exact quantiles WITHOUT a corpus sort: the score domain is bounded
    * (0..10000 + sentinel), so per-lang thresholds come off a
    * value-count histogram — one map-side-combined groupBy(lang, score),
    * a cumulative window over <= langs x 10002 rows (bounded by the
    * domain, not the corpus), threshold = smallest score whose
    * cumulative count reaches ceil(n/3) / ceil(2n/3) (percentile_disc
    * semantics). The langs-row threshold table broadcast-joins back.
    * An exact percentile aggregate would buffer a language's every score
    * in one task — the same TypedImperativeAggregate scale-killer
    * qCorpusStats avoids. */
  def qQualityThresholds(spark: SparkSession, dir: String): DataFrame = {
    val nWords = wordCount(col("text"))
    val nStop = stopwordCount(norm(col("text")), langStopwords.head._2)
    // lineage cut: the stopword regex count feeds both the histogram
    // and the join-back; without it the corpus text is scanned twice
    val base = docs(spark, dir)
      .select(col("doc_id"), col("lang"), nWords.as("n_words"),
        nStop.as("n_stop"))
      .withColumn("score",
        expr("CASE WHEN n_words = 0 THEN -1 " +
          "ELSE (n_stop * 10000) DIV n_words END"))
      .select(col("doc_id"), col("lang"), col("score"))
      .localCheckpoint()
    val hist = base.groupBy("lang", "score").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("lang").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum("c").over(w))
      .withColumn("n", sum("c").over(Window.partitionBy("lang")))
    // ceil in integer arithmetic — see qCorpusStats for why not ceil(q*n)
    val thresholds = cum.groupBy("lang").agg(
      min(when(col("cum") >= expr("(n + 2) DIV 3"), col("score"))).as("t33"),
      min(when(col("cum") >= expr("(n * 2 + 2) DIV 3"), col("score")))
        .as("t66"))
    base.join(broadcast(thresholds), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("score"), col("t33"),
        col("t66"),
        when(col("score") >= col("t66"), lit("head"))
          .when(col("score") >= col("t33"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Corpus snapshot diff — the data-versioning step an incremental
    * pipeline runs between crawls: classify every document as
    * added / removed / changed / unchanged by comparing CONTENT
    * fingerprints across two snapshots (renames/reorders don't count as
    * change; an edit does). The two snapshots derive deterministically
    * from the one documents table (prev drops doc_id%7==3 and truncates
    * doc_id%11==0 to its first 40 chars — a simulated edit; cur drops
    * doc_id%13==5), so all four statuses occur and the oracle replays
    * both sides exactly.
    *
    * Scale shape: fingerprint each side once (map-only), ONE full outer
    * equi-join on doc_id (co-partitioned/bucketed by id at 100 TB — the
    * join the snapshot store is laid out for), status is a row-local
    * CASE. Short docs whose truncation is a no-op correctly compare
    * unchanged: status follows the HASH, not the doc_id rule. */
  def qSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir)
    val prev = base.filter(col("doc_id") % 7 =!= 3)
      .select(col("doc_id"),
        rollingFingerprint(norm(
          when(col("doc_id") % 11 === 0, substring(col("text"), 1, 40))
            .otherwise(col("text")))).as("prev_h"))
    val cur = base.filter(col("doc_id") % 13 =!= 5)
      .select(col("doc_id"),
        rollingFingerprint(norm(col("text"))).as("cur_h"))
    prev.join(cur, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("prev_h"), col("cur_h"),
        when(col("prev_h").isNull, lit("added"))
          .when(col("cur_h").isNull, lit("removed"))
          .when(col("prev_h") =!= col("cur_h"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Snapshot DRIFT — the change-extent companion to q_snapshot_diff's
    * boolean statuses: for every doc present in both snapshots, the
    * version-to-version 8-shingle Jaccard says HOW MUCH changed (a
    * tracking-page timestamp edit reads ~0.98; a rewrite reads ~0.1 —
    * the difference decides whether downstream caches invalidate).
    * Both versions derive from the same row, so the whole comparison
    * is ROW-LOCAL set arithmetic on shingle-hash arrays — one scan, no
    * join at all, the shape that survives any corpus size trivially. */
  def qSnapshotDrift(spark: SparkSession, dir: String): DataFrame = {
    val both = docs(spark, dir)
      .filter(col("doc_id") % 7 =!= 3 && col("doc_id") % 13 =!= 5)
    val prevText = when(col("doc_id") % 11 === 0,
      substring(col("text"), 1, 40)).otherwise(col("text"))
    val pSh = array_distinct(
      graft.functions.ShingleHash(prevText, 8, 131L, 1000000007L))
    val cSh = array_distinct(
      graft.functions.ShingleHash(col("text"), 8, 131L, 1000000007L))
    val changed = rollingFingerprint(norm(prevText)) =!=
      rollingFingerprint(norm(col("text")))
    val base = both.select(col("doc_id"),
      when(changed, lit("changed")).otherwise(lit("unchanged"))
        .as("status"),
      size(pSh).cast("long").as("n_prev"),
      size(cSh).cast("long").as("n_cur"),
      size(array_intersect(pSh, cSh)).cast("long").as("shared"))
    val denom = col("n_prev") + col("n_cur") - col("shared")
    base.select(col("doc_id"), col("status"), col("n_prev"), col("n_cur"),
      col("shared"),
      when(denom === 0, lit(1.0)).otherwise(
        round(col("shared").cast("double") / denom.cast("double"), 4))
        .as("jac"))
  }

  /** Mixture RESAMPLING — the actuator behind q_mix_report's diagnostic:
    * rebalance the corpus toward a uniform per-language target by
    * deterministic content-keyed rejection sampling. Per-language keep
    * threshold = min(1e6, (1e6·total) / (n_langs·n_lang)) in EXACT
    * integer arithmetic (the probability is a rational; no float ever
    * enters the accept decision), accept iff content-hash mod 1e6 <
    * threshold — re-shard/renumber stable like the split (row 61), so
    * the same document is kept or dropped in every run and on every
    * cluster. Plan: one tiny lang-count aggregate broadcast back over
    * the scan; the corpus itself never shuffles. */
  def qMixResample(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("lang"),
      rollingFingerprint(norm(col("text"))).as("h"))
    val counts = d.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val tot = counts.agg(sum("n_lang").as("total"),
      count(lit(1)).as("n_langs"))
    val withThresh = counts.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_lang"),
        least(lit(1000000L),
          expr("(1000000 * total) DIV (n_langs * n_lang)")).as("thresh"))
    d.join(broadcast(withThresh), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("h"), col("n_lang"),
        col("thresh"),
        (pmod(col("h"), lit(1000000L)) < col("thresh")).as("accepted"))
  }

  /** Temperature-scaled mixture resampling (r11) — the α-sampling
    * actuator of XLM-R/mT5 data mixing (target share ∝ p_l^α, α = 0.5
    * here): where row 112 rebalances toward UNIFORM, this smooths —
    * small languages up-weighted, large ones down-weighted, the
    * standard multilingual-pretraining knob. Keep probability =
    * sqrt(n_min / n_l) (the smallest language keeps 100%; realized
    * counts ∝ sqrt(n_l)), thresholded against the same content-hash
    * mod 1e6 as row 112 so acceptance stays re-shard/renumber stable.
    * Cross-engine determinism: sqrt is IEEE-754 CORRECTLY ROUNDED in
    * both engines (unlike exp/ln/pow, which the engine bans) — the
    * whole double chain sqrt→divide→multiply→floor is bit-identical,
    * so the integer threshold needs no rounding guard. Plan = one tiny
    * lang-count aggregate broadcast back over the scan; the corpus
    * never shuffles. */
  def qMixTemperature(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("lang"),
      rollingFingerprint(norm(col("text"))).as("h"))
    val counts = d.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val nmin = counts.agg(min("n_lang").as("n_min"))
    val withThresh = counts.crossJoin(broadcast(nmin))
      .select(col("lang"), col("n_lang"),
        least(lit(1000000L),
          floor(lit(1000000.0)
            * sqrt(col("n_min").cast("double"))
            / sqrt(col("n_lang").cast("double"))).cast("long"))
          .as("thresh"))
    d.join(broadcast(withThresh), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("h"), col("n_lang"),
        col("thresh"),
        (pmod(col("h"), lit(1000000L)) < col("thresh")).as("accepted"))
  }

  /** Score-distribution DRIFT monitor (r11) — the model-monitoring
    * staple beside the snapshot diff: did the quality-score
    * distribution move between the previous and current crawl? (The
    * question that decides whether yesterday's filter threshold still
    * means the same thing today.) Snapshots derive exactly as
    * q_snapshot_diff's (prev = doc_id%7≠3 with every 11th doc
    * truncated, cur = doc_id%13≠5), scores are row 86's integer
    * stopword-rate, and the distance is the SYMMETRIC CHI-SQUARE
    * Σ(p−q)²/(p+q) — PSI's ln is banned cross-engine, χ² is fully
    * RATIONAL: per bucket (np·C − nc·P)² / (P·C·(np·C + nc·P)) over
    * exact integer counts, contributions quantized to integer nanos so
    * the total is an order-independent sum (the gradient/JL move).
    * Plan: two filtered scans of one corpus read, one bucket
    * aggregate, 1-row totals broadcast back — bucket table ≤ 21 rows
    * at any corpus size. */
  def qScoreDrift(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir)
    def scored(side: String, textCol: org.apache.spark.sql.Column,
               keep: org.apache.spark.sql.Column) = base.filter(keep)
      .select(lit(side).as("side"), wordCount(textCol).as("n_words"),
        stopwordCount(norm(textCol), langStopwords.head._2)
          .as("n_stop"))
      .select(col("side"), expr("CASE WHEN n_words = 0 THEN -1 " +
        "ELSE (n_stop * 10000) DIV n_words END").as("score"))
    val prev = scored("prev",
      when(col("doc_id") % 11 === 0, substring(col("text"), 1, 40))
        .otherwise(col("text")), col("doc_id") % 7 =!= 3)
    val cur = scored("cur", col("text"), col("doc_id") % 13 =!= 5)
    val grp = prev.unionByName(cur)
      .withColumn("bucket", when(col("score") < 0, lit(-1L))
        .otherwise(least(expr("score DIV 50"), lit(19L))))
      .groupBy("bucket")
      .agg(sum(when(col("side") === "prev", 1L).otherwise(0L))
          .as("n_prev"),
        sum(when(col("side") === "cur", 1L).otherwise(0L)).as("n_cur"))
    val tots = grp.agg(sum("n_prev").as("tp"), sum("n_cur").as("tc"))
    val withC = grp.crossJoin(broadcast(tots))
      .withColumn("num",
        (col("n_prev") * col("tc") - col("n_cur") * col("tp")))
      .withColumn("den",
        (col("tp") * col("tc")).cast("double") *
          (col("n_prev") * col("tc") + col("n_cur") * col("tp"))
            .cast("double"))
      .withColumn("contrib_nano",
        round((col("num") * col("num")).cast("double") / col("den")
          * 1e9, 0).cast("long"))
      .localCheckpoint() // bucket rows + the chi2 marginal
    val chi2 = withC.agg(
      round(sum("contrib_nano").cast("double") / 1e9, 6).as("chi2"))
    withC.crossJoin(broadcast(chi2))
      .select(col("bucket"), col("n_prev"), col("n_cur"),
        round(col("n_prev").cast("double") / col("tp").cast("double"),
          6).as("frac_prev"),
        round(col("n_cur").cast("double") / col("tc").cast("double"),
          6).as("frac_cur"),
        round(col("contrib_nano").cast("double") / 1e9, 6)
          .as("contrib"),
        col("chi2"))
  }

  /** Quantile normalization without a global sort — the preprocessing
    * move that turns an arbitrary score scale into a uniform [0,1]
    * rank (what cross-corpus threshold transfer and rank-based mixing
    * actually consume): each doc's percentile = strict-below count
    * over n, computed from the BOUNDED-DOMAIN score histogram (the
    * stopword-rate score lives in [-1, 10000], so the histogram is
    * ≤10002 rows at ANY corpus size) + one cumulative window over that
    * tiny table + a broadcast join-back. A rank window over the corpus
    * would sort 100 TB through one exchange; this sorts ≤10002 rows.
    * Percentile in basis points, integer-exact; per-lang marginals
    * show the normalization holds within every language. */
  def qQualityPercentile(spark: SparkSession, dir: String): DataFrame = {
    val nWords = wordCount(col("text"))
    val nStop = stopwordCount(norm(col("text")), langStopwords.head._2)
    val base = docs(spark, dir)
      .select(col("doc_id"), col("lang"), nWords.as("n_words"),
        nStop.as("n_stop"))
      .withColumn("score",
        expr("CASE WHEN n_words = 0 THEN -1 " +
          "ELSE (n_stop * 10000) DIV n_words END"))
      .select(col("doc_id"), col("lang"), col("score"))
      .localCheckpoint()
    val hist = base.groupBy("score").agg(count(lit(1)).as("c"))
    val w = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1) // strictly below
    val cum = hist
      .withColumn("below", coalesce(sum("c").over(w), lit(0L)))
      .localCheckpoint() // ≤10002 rows; the one (tiny) sorted exchange
    val tot = base.agg(count(lit(1)).as("n_corpus"))
    base.join(broadcast(cum.select(col("score"), col("below"))),
        Seq("score"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("lang"), col("score"),
        expr("below * 10000 div n_corpus").as("pct_bp"),
        col("n_corpus"))
  }

  private val RangeShards = 16L

  /** Balanced RANGE sharding without a global sort (r12) — the layout
    * pass that writes a 100 TB corpus as key-ordered shards (what
    * `repartitionByRange` + sorted parquet writes produce): compute
    * shard boundaries from the key distribution, assign map-only, emit
    * the balance audit. Spark's own range partitioner reservoir-SAMPLES
    * boundaries (approximate, run-dependent); here the sort key
    * (doc length) has a BOUNDED DOMAIN, so the exact histogram replaces
    * the sample — the qQualityPercentile move applied to layout:
    * histogram (≤ key-domain rows at any corpus size) → one cumulative
    * window over that tiny table → broadcast join-back → shard =
    * min(S−1, strict-below·S div N). Ties share a key and therefore a
    * shard (a deterministic cut can't split equal keys), so the balance
    * audit reports the tie-mass skew honestly: per shard n_docs,
    * [lo,hi] key range, char mass, and balance in basis points of the
    * ideal N/S. Plan: two map-side-combined aggregates + one bounded
    * window — the corpus is never sorted. */
  def qRangeShard(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("k"))
      .localCheckpoint() // histogram + assignment read it
    val hist = base.groupBy("k").agg(count(lit(1)).as("c"))
    val w = Window.orderBy("k")
      .rowsBetween(Window.unboundedPreceding, -1) // strictly below
    val cum = hist
      .withColumn("below", coalesce(sum("c").over(w), lit(0L)))
    val tot = base.agg(count(lit(1)).as("n"))
    val assigned = base
      .join(broadcast(cum.select(col("k"), col("below"))), Seq("k"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("k"), col("n"),
        least(lit(RangeShards - 1),
          expr(s"below * $RangeShards div n")).as("shard"))
    assigned.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        min("k").as("lo_key"), max("k").as("hi_key"),
        sum("k").as("chars_sum"), max("n").as("n"))
      .select(col("shard"), col("n_docs"), col("lo_key"), col("hi_key"),
        col("chars_sum"),
        expr(s"n_docs * $RangeShards * 10000 div n").as("balance_bp"))
  }

  private val PrioK = 100 // sample size

  /** Sequential Poisson sampling (Ohlsson 1998 — the published
    * weighted-without-replacement scheme production samplers use,
    * PPSWOR-style): priority q_i = u_i / w_i with u uniform, keep the
    * k SMALLEST priorities — heavy documents draw small priorities
    * proportionally more often, giving probability-proportional-to-
    * size inclusion without replacement. Deterministic and integer-
    * exact here: u = content-hash mod 2^20 (re-shard/renumber stable),
    * w = the engine's token estimate, priority = u·10⁶ div w; the
    * k-smallest selection is ONE bounded-heap TopKAgg (map-side
    * combined to ≤k rows per partition — never a global sort), ties
    * to the lower doc_id. The marginal proves the tilt: sample mean
    * tokens vs corpus mean tokens (PPS over-represents long docs by
    * construction — measured, not asserted). */
  def qSamplePriority(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir)
      .select(col("doc_id"),
        greatest(lit(1L), expr("length(text) div 4")).as("w"),
        rollingFingerprint(norm(col("text"))).as("h"))
      .withColumn("priority",
        expr("(h % 1048576) * 1000000 div w"))
      .localCheckpoint() // heap + corpus marginal
    val picked = base
      .groupBy()
      .agg(graft.functions.TopKAgg(col("priority").cast("double"),
        col("doc_id"), col("priority"), PrioK).as("tk"))
      .select(posexplode(col("tk")).as(Seq("pos", "t")))
      .select(col("t.tie").as("doc_id"), (col("pos") + 1).as("rk"))
    val m = base.agg(count(lit(1)).as("n_corpus"),
      expr("sum(w) div count(1)").as("mean_w_corpus"))
    val sample = picked.join(base.select(col("doc_id"), col("w"),
      col("priority")), Seq("doc_id"))
    val ms = sample.agg(expr("sum(w) div count(1)").as("mean_w_sample"))
    sample.crossJoin(broadcast(m)).crossJoin(broadcast(ms))
      .select(col("doc_id"), col("w"), col("priority"), col("rk"),
        col("n_corpus"), col("mean_w_corpus"), col("mean_w_sample"))
  }

  // --------------------------------------------- DSIR importance resampling

  private val DsirB = 1024L // hashed-feature buckets

  /** DSIR-shaped importance resampling (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling" — public
    * literature): select raw-corpus documents toward a TARGET
    * distribution by hashed n-gram importance weights, the modern
    * content-based selection beside the metadata samplers (quota 52,
    * temperature 138, quality gate 150).
    *
    *  - Features: word uni+bigrams hashed into B=1024 buckets
    *    (row-local HOF pipeline — at 100 TB nothing but the ≤B-row
    *    count tables and 1-row totals ever leaves the scan).
    *  - Target = the English slice (the paper's "formal text" stand-in
    *    on this corpus); raw = everything.
    *  - Per-feature score: the RATIONAL likelihood ratio
    *    ((p_f+1)·10⁴ div (q_f+1))·Sq div Sp with add-one smoothing —
    *    the paper's log-ratio is banned cross-engine (SURVEY §3:
    *    no transcendentals), so the ratio itself is kept, STAGED so no
    *    intermediate exceeds ~1e17 at 10¹³ corpus features (p_f ≤ q_f
    *    bounds the inner term by 10⁴): per-feature monotone in the
    *    same direction, integer-exact in both engines.
    *  - Doc importance W_d = Σ_f c_{d,f}·score_f — one broadcast join
    *    of the ≤B-row score table onto the exploded features, one
    *    map-side-combined sum.
    *  - SIR accept: max-normalized deterministic Bernoulli
    *    (content-hash mod 2²⁰)·Wmax < W_d·2²⁰ — re-shard/renumber
    *    stable, the quality-sampling acceptance move with a
    *    data-derived rate.
    *
    * Per-lang acceptance marginals measure the tilt: the target
    * language's acceptance rate should dominate — the selection
    * effect the paper buys, made visible. */
  def qDsirResample(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val wordsCol = filter(split(lower(col("text")), "[^a-z]+"),
      w => length(w) > lit(0))
    val hw = transform(wordsCol, w => rollingFingerprint(w, 131L))
    val base = d.select(col("doc_id"), col("lang"), hw.as("hw"),
      rollingFingerprint(norm(col("text"))).as("h")).localCheckpoint()
    val uni = transform(col("hw"), x => pmod(x, lit(DsirB)))
    val bi = when(size(col("hw")) >= 2,
      zip_with(expr("slice(hw, 1, size(hw) - 1)"),
        expr("slice(hw, 2, size(hw) - 1)"),
        (a, b) => pmod(a * lit(131L) + b, lit(DsirB))))
      .otherwise(array().cast("array<long>"))
    val feats = base.select(col("doc_id"), col("lang"),
      explode(concat(uni, bi)).as("f")).localCheckpoint()
    val qf = feats.groupBy("f").agg(count(lit(1)).as("qf"))
    val pf = feats.filter(col("lang") === "en")
      .groupBy("f").agg(count(lit(1)).as("pf"))
    val totals = qf.agg(sum("qf").as("sq"))
      .crossJoin(pf.agg(sum("pf").as("sp"))) // 1 row
    // staged integer ratio ((pf+1)·10⁴ div (qf+1)) · sq div sp — NOT the
    // single-expression (pf+1)·sq·10⁴/((qf+1)·sp): pf·sq·10⁴ overflows
    // Long once corpus features approach ~1e9 (Spark wraps silently,
    // DuckDB errors). Here pf ≤ qf (en features ⊆ corpus features), so
    // the inner term is ≤ 10⁴ and every intermediate stays < ~1e17 even
    // at 10¹³ corpus features — the 100 TB design point holds.
    val score = qf.join(pf, Seq("f"), "left").na.fill(0L, Seq("pf"))
      .crossJoin(broadcast(totals))
      .select(col("f"),
        expr("((pf + 1) * 10000 div (qf + 1)) * sq div sp").as("fscore"))
    // LENGTH-NORMALIZED importance (mean feature score): the raw sum is
    // dominated by document length (measured: fr's raw-sum mean beat
    // en's), while the per-feature mean separates en ~1.7 SD above
    // every other language — the paper's per-token log-ratio average,
    // taken rationally
    val w = feats.join(broadcast(score), Seq("f"))
      .groupBy("doc_id")
      .agg(expr("sum(fscore) * 1000 div count(1)").as("w_norm"))
    val withW = base.select(col("doc_id"), col("lang"), col("h"))
      .join(w, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("h"),
        coalesce(col("w_norm"), lit(0L)).as("w_norm"))
    // acceptance band = mean ± 2·MAD (POPULATION statistics, so the
    // stretch is corpus-size-stable — min-max compressed the tilt at
    // 10x docs because the extremes, not the distribution, widen):
    // P(accept) ramps 0→1 linearly across [mu-2d, mu+2d]
    val mu = withW.agg(expr("sum(w_norm) div count(1)").as("mu")) // 1 row
    val stats = withW.crossJoin(broadcast(mu))
      .agg(max("mu").as("mu"),
        expr("sum(abs(w_norm - mu)) div count(1)").as("dev")) // 1 row
    val rows = withW.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("lang"), col("w_norm"),
        (pmod(col("h"), lit(1048576L)) * (lit(4L) * col("dev")) <
          (col("w_norm") - col("mu") + lit(2L) * col("dev")) *
            lit(1048576L)).as("accepted"))
    val marg = rows.groupBy("lang").agg(count(lit(1)).as("lang_n"),
      sum(when(col("accepted"), 1L).otherwise(0L)).as("lang_acc"))
    rows.join(broadcast(marg), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("w_norm"), col("accepted"),
        col("lang_n"), col("lang_acc"),
        expr("lang_acc * 10000 div lang_n").as("lang_rate_bp"))
  }

  // ------------------------------------------------- Merkle snapshot digest

  private val MerkleLeaves = 64L // leaf buckets (doc_id mod)
  private val MerkleFan = 8L     // children per level-1 node

  /** Merkle-tree snapshot digest + diff — the change-detection layer a
    * content-addressed 100 TB snapshot store runs INSTEAD of row diffs
    * (the manifest idea behind Delta/Iceberg file stats, taken to its
    * hash-tree conclusion): equality of two snapshots is decided by ONE
    * root comparison, the changed region by 64 leaf digests, and only
    * leaves whose digests differ are ever re-read at row grain (row
    * 92's q_snapshot_diff is the drill-down this tree routes).
    *
    *  - row digest = (doc_id·131 + content-fingerprint) mod 2^30 —
    *    id-bound so moved content changes its leaf, and small enough
    *    that an 8.6-billion-row leaf SUM stays inside a long;
    *  - leaf = doc_id mod 64 (the bucketed-by-id layout the snapshot
    *    store is already written in, so a leaf IS a file group);
    *    leaf digest = SUM(row digest) mod P — order-independent, so
    *    partition layout and shard order cannot change it;
    *  - level-1/root digests fold children with position weights
    *    (child+1) so sibling swaps are caught; 8 + 1 numbers total.
    *
    * The whole tree above the scan is 64 + 8 + 1 rows — two map-side-
    * combined aggregates and driver-sized arithmetic. Output: per-leaf
    * prev/cur digests + changed flag, with the roots and the
    * changed-leaf count broadcast back as 1-row marginals. */
  def qMerkleDiff(spark: SparkSession, dir: String): DataFrame = {
    val P = 1000000007L
    val base = docs(spark, dir)
    def rowDigest(h: org.apache.spark.sql.Column) =
      pmod(col("doc_id") * lit(131L) + h, lit(1073741824L))
    // SPARSE plant (edits every 97th doc, adds every 211th) — unlike
    // row 92's dense every-7th/11th/13th derivation, a between-crawls
    // delta touches a small fraction of rows, and the tree's value IS
    // that most leaves then verify by digest alone (measured at
    // sf0.01: 8 of 64 leaves re-read, at sf0.1: 56)
    val prev = base.filter(col("doc_id") % 211 =!= 0)
      .select(col("doc_id"), rowDigest(rollingFingerprint(norm(
        when(col("doc_id") % 97 === 0, substring(col("text"), 1, 40))
          .otherwise(col("text"))))).as("rd"))
    val cur = base.select(col("doc_id"),
      rowDigest(rollingFingerprint(norm(col("text")))).as("rd"))
    def leaves(s: DataFrame, pfx: String): DataFrame =
      s.groupBy(pmod(col("doc_id"), lit(MerkleLeaves)).as("leaf"))
        .agg(count(lit(1)).as(s"${pfx}_n"),
          (sum(col("rd")) % P).as(s"${pfx}_digest"))
    val byLeaf = leaves(prev, "prev")
      .join(leaves(cur, "cur"), Seq("leaf"), "full_outer")
      .select(col("leaf"),
        coalesce(col("prev_n"), lit(0L)).as("prev_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"),
        coalesce(col("prev_digest"), lit(0L)).as("prev_digest"),
        coalesce(col("cur_digest"), lit(0L)).as("cur_digest"))
      .withColumn("leaf_changed", col("prev_digest") =!= col("cur_digest"))
      .localCheckpoint() // 64 rows; read again by the root fold
    // level-1 nodes then root, position-weighted child folds
    val nodes = byLeaf
      .groupBy(expr(s"leaf div $MerkleFan").as("node"))
      .agg((sum(col("prev_digest") * (pmod(col("leaf"), lit(MerkleFan))
        + 1L)) % P).as("pnode"),
        (sum(col("cur_digest") * (pmod(col("leaf"), lit(MerkleFan))
          + 1L)) % P).as("cnode"))
    val roots = nodes.agg(
      (sum(col("pnode") * (col("node") + 1L)) % P).as("prev_root"),
      (sum(col("cnode") * (col("node") + 1L)) % P).as("cur_root"))
    val marg = byLeaf.agg(
      sum(when(col("leaf_changed"), 1L).otherwise(0L)).as("n_changed_leaves"))
    byLeaf.crossJoin(broadcast(roots)).crossJoin(broadcast(marg))
      .select(col("leaf"), col("prev_n"), col("cur_n"),
        col("prev_digest"), col("cur_digest"), col("leaf_changed"),
        col("prev_root"), col("cur_root"),
        (col("prev_root") =!= col("cur_root")).as("root_changed"),
        col("n_changed_leaves"))
  }

  // ----------------------------------------------------------- RAG chunking

  private val ChunkC = 200L // target chunk chars
  private val ChunkO = 40L  // overlap chars (stride = C - O)

  /** Boundary-aware chunking core — the RAG-ingestion op between raw
    * docs and the embedding batch: fixed-STRIDE starts (start_i =
    * i·(C−O), so every chunk is computable independently — a
    * snapped-start scheme would chain each chunk on the previous one
    * and serialize the document) with two-tier SNAPPED ends: a chunk
    * ends at the last '. ' inside its window when that keeps at least
    * STRIDE chars ('sentence'), else at the last ' ' ('word' — the
    * real rule on boundary-less text: never split mid-word), else at
    * the hard C cut; the final chunk never snaps (nothing may fall
    * off the tail). The stride floor is what makes coverage GAP-FREE:
    * chunk i+1 starts at (i+1)·stride, so any end below that would
    * orphan characters no chunk contains — spec-pinned. Pure
    * string/integer arithmetic — substr, reverse,
    * instr — identical in both engines; row-local explode, no shuffle
    * at any size. Output carries the chunk fingerprint (the
    * dedup/citation key a chunk store indexes by) and the snap kind.
    * Exposed on a plain (doc_id, text) frame so specs can drive the
    * sentence tier, which this corpus (no '.' anywhere) never hits. */
  def chunkDocs(dIn: DataFrame): DataFrame = {
    val stride = ChunkC - ChunkO
    val d = dIn
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("len"))
      .withColumn("n_chunks",
        lit(1L) + greatest(lit(0L),
          expr(s"(len - $ChunkC + ${stride - 1}) div $stride")))
    val chunks = d.select(col("doc_id"), col("text"), col("len"),
        col("n_chunks"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("idx"))
      .withColumn("start", col("idx") * stride)
      .withColumn("tent_len",
        least(lit(ChunkC), col("len") - col("start")))
      // last '. ' / ' ' inside the window: reverse + first-index
      .withColumn("rsub",
        reverse(expr(s"substr(text, start + 1, tent_len)")))
      .withColumn("dotp", expr("instr(rsub, ' .')"))
      .withColumn("spacep", expr("instr(rsub, ' ')"))
      .withColumn("last_dot",
        when(col("dotp") > 0, col("tent_len") - col("dotp"))
          .otherwise(lit(0L)))
      .withColumn("last_space",
        when(col("spacep") > 0, col("tent_len") - col("spacep") + 1)
          .otherwise(lit(0L)))
      .withColumn("snap_kind",
        when(col("idx") === col("n_chunks") - 1, lit("hard"))
          .when(col("last_dot") >= stride, lit("sentence"))
          .when(col("last_space") >= stride, lit("word"))
          .otherwise(lit("hard")))
      .withColumn("chunk_len",
        when(col("snap_kind") === "sentence", col("last_dot"))
          .when(col("snap_kind") === "word", col("last_space"))
          .otherwise(col("tent_len")))
    chunks.select(col("doc_id"), col("idx").as("chunk_idx"),
      col("start"), (col("start") + col("chunk_len")).as("end"),
      col("chunk_len").cast("long").as("n_chars"), col("snap_kind"),
      rollingFingerprint(expr("substr(text, start + 1, chunk_len)"))
        .as("chunk_fp"))
  }

  def qChunkRag(spark: SparkSession, dir: String): DataFrame =
    chunkDocs(docs(spark, dir))

  /** Chunk-store dedup — the compute saver a RAG ingestion runs
    * between row 156's chunker and the embedding batch: identical
    * chunks (by content fingerprint) embed ONCE, every other copy
    * resolves to the canonical row. Exact-duplicate documents chunk
    * identically (same offsets, same snaps), so their chunks collapse
    * here; the marginal prices it — embeds saved = total chunks minus
    * distinct fingerprints. One hash aggregate over the row-local
    * chunk scan; group rows bounded by duplicated content only. */
  def qChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val cf = chunkDocs(docs(spark, dir))
      .select(col("doc_id"), col("chunk_idx"), col("chunk_fp"))
      .localCheckpoint() // groups + the totals marginal
    val g = cf.groupBy("chunk_fp")
      .agg(count(lit(1)).as("n_copies"),
        countDistinct("doc_id").as("n_docs"),
        min("doc_id").as("min_doc_id"))
      .filter(col("n_copies") >= 2)
    val m = cf.agg(count(lit(1)).as("n_chunks_total"),
      countDistinct("chunk_fp").as("n_unique_fp"))
    g.crossJoin(broadcast(m))
      .select(col("chunk_fp"), col("n_copies"), col("n_docs"),
        col("min_doc_id"), col("n_chunks_total"), col("n_unique_fp"),
        (col("n_chunks_total") - col("n_unique_fp")).as("n_embeds_saved"))
  }

  /** Per-domain reputation rollup + gate — the CCNet/RefinedWeb move of
    * judging SOURCES, not just documents: a spam domain's individually
    * plausible pages survive doc-level filters, but the domain's
    * aggregate statistics give it away. Per source: doc count, short-doc
    * count (<100 chars — the junk signal this corpus actually varies
    * by source), exact integer per-mille rates, mean length ×100, and a
    * reputation score (1000 − 4·short per-mille, floored at 0); sources
    * under 400 are dropped WHOLE (kept_docs = 0) — the actuator column,
    * not just a flag. One hash aggregate over the corpus scan (20 group
    * rows at any scale); no joins, no windows — at 100 TB this is a
    * map-side-combined rollup whose output fits on a postcard. */
  def qDomainReputation(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "documents")
      .select(col("source"), col("n_chars").cast("long").as("n_chars"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_chars") < 100, 1L).otherwise(0L)).as("n_short"),
        sum("n_chars").as("sum_chars"))
      .select(col("source"), col("n_docs"), col("n_short"),
        expr("n_short * 1000 div n_docs").as("short_pm"),
        expr("sum_chars * 100 div n_docs").as("mean_chars_x100"),
        greatest(lit(1000L) - expr("n_short * 1000 div n_docs") * 4L,
          lit(0L)).as("rep_score"))
      .withColumn("kept_docs",
        when(col("rep_score") >= 400, col("n_docs")).otherwise(0L))
  }

  /** T5/UL2 span-corruption statistics — the denoising-objective
    * transform a pretraining pipeline applies at materialization time:
    * ~1/7 of tokens corrupted in spans of (up to) 3, each maximal run
    * replaced by one sentinel on the input side and echoed with its
    * sentinel on the target side. The corruption decision is
    * hash-deterministic per (doc, token-group) — re-shard/renumber
    * stable, like the split/shuffle family — so input/target lengths
    * are exact integers both engines derive from the same arithmetic:
    * group g of doc d corrupts iff (d·31 + g) % 7 == 0 (groups = 3
    * consecutive tokens; adjacent corrupted groups merge into one
    * span). Entirely row-local (one HOF fold over the token index
    * range), no shuffle at all. */
  def qSpanCorruption(spark: SparkSession, dir: String): DataFrame = {
    val toks = filter(split(lower(col("text")), "[^a-z0-9]+"),
      w => length(w) > 0)
    val n = size(toks)
    // per token-group corruption bit, then tokens + maximal runs
    def corrG(g: Column) = (col("doc_id") * 31 + g) % 7 === 0
    def grp(i: Column) = floor(i.cast("double") / 3.0).cast("long")
    val gIdx = sequence(lit(0L),
      greatest(floor((n.cast("double") + 2.0) / 3.0).cast("long") - 1,
        lit(0L))) // group ids 0..ceil(n/3)-1
    val nCorr = aggregate(sequence(lit(0L), (n - 1).cast("long")),
      lit(0L),
      (acc, i) => acc + when(corrG(grp(i)), 1L).otherwise(0L))
    val nSpans = aggregate(gIdx, lit(0L),
      (acc, g) => acc + when(corrG(g) &&
        (g === 0 || !corrG(g - 1)), 1L).otherwise(0L))
    Tables.load(spark, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .select(col("doc_id"), n.cast("long").as("n_tokens"),
        when(n > 0, nCorr).otherwise(0L).as("n_corrupted"),
        when(n > 0, nSpans).otherwise(0L).as("n_spans"))
      .select(col("doc_id"), col("n_tokens"), col("n_corrupted"),
        col("n_spans"),
        (col("n_tokens") - col("n_corrupted") + col("n_spans"))
          .as("input_len"),
        (col("n_corrupted") + col("n_spans")).as("target_len"),
        when(col("n_tokens") > 0,
          expr("n_corrupted * 1000 div n_tokens")).otherwise(0L)
          .as("corruption_pm"))
  }

  /** Length-bucketed batching economics — the padding-waste audit a
    * trainer runs before choosing its batching strategy: batches of 8
    * pad every member to the batch max, so naive id-order batching pays
    * for the length spread while bucketing by size (32-token buckets,
    * length-ordered within bucket) packs near-equals together. Both
    * layouts are computed (naive batch = doc_id div 8 — dense ids, no
    * global sort; bucketed batch = rank div 8 within each bucket), each
    * batch priced at max·8, and the corpus-level savings shipped on
    * every row. The heavy window runs per BUCKET (bounded key space),
    * never globally. Output: one row per bucketed batch with its fill
    * stats + the marginal. */
  def qLengthBuckets(spark: SparkSession, dir: String): DataFrame = {
    val B = 8
    val d = Tables.load(spark, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"),
        ceil(length(col("text")).cast("double") / lit(4.0)).cast("long")
          .as("toks"))
      .localCheckpoint() // bucketed layout + naive baseline
    val w = Window.partitionBy("bucket")
      .orderBy(col("toks").desc, col("doc_id"))
    val bucketed = d.withColumn("bucket", expr("toks div 32"))
      .withColumn("rn", row_number().over(w))
      .withColumn("batch", expr(s"cast(rn - 1 as long) div $B"))
      .drop("rn")
      .groupBy("bucket", "batch")
      .agg(count(lit(1)).as("n_docs"), max("toks").as("max_toks"),
        sum("toks").as("sum_toks"))
      .withColumn("padded", col("max_toks") * B)
      .withColumn("waste", col("padded") - col("sum_toks"))
    val naive = d.withColumn("nb", expr("doc_id div 8"))
      .groupBy("nb").agg((max("toks") * B).as("npadded"))
      .agg(sum("npadded").as("naive_padded"))
    val tot = bucketed.agg(sum("padded").as("bucketed_padded"))
      .crossJoin(naive)
      .select(col("bucketed_padded"), col("naive_padded"),
        expr("(naive_padded - bucketed_padded) * 1000 div naive_padded")
          .as("savings_pm"))
    bucketed.crossJoin(broadcast(tot))
  }

  /** Fill-in-the-middle transform (Bavarian et al. 2022, public) — the
    * infilling-objective rewrite code-model pipelines apply to a share
    * of training documents: split at two hash-deterministic character
    * positions, reorder as PSM (<PRE>p<SUF>s<MID>m) or SPM by doc
    * parity, and VERIFY the transformation itself by hashing the
    * rewritten string — lengths alone can't catch a swapped segment.
    * Split points are (doc, length) arithmetic (re-shard stable, the
    * span-corruption contract); suffix and middle are guaranteed
    * non-empty by construction. Row-local string slicing only. */
  def qFimTransform(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .withColumn("l", length(col("text")).cast("long"))
      .withColumn("p1",
        expr("1 + pmod(doc_id * 31, greatest(l div 2, 1))"))
      .withColumn("p2",
        expr("p1 + 1 + pmod(doc_id * 17, greatest(l - p1 - 1, 1))"))
      .withColumn("prefix", expr("substring(text, 1, cast(p1 as int))"))
      .withColumn("middle",
        expr("substring(text, cast(p1 + 1 as int), cast(p2 - p1 as int))"))
      .withColumn("suffix",
        expr("substring(text, cast(p2 + 1 as int), cast(l - p2 as int))"))
      .withColumn("mode",
        when(col("doc_id") % 2 === 0, "psm").otherwise("spm"))
      .withColumn("fim", when(col("mode") === "psm",
        concat(lit("<PRE>"), col("prefix"), lit("<SUF>"), col("suffix"),
          lit("<MID>"), col("middle")))
        .otherwise(
          concat(lit("<SUF>"), col("suffix"), lit("<PRE>"), col("prefix"),
            lit("<MID>"), col("middle"))))
      .select(col("doc_id"), col("mode"),
        col("p1").as("prefix_len"),
        (col("p2") - col("p1")).as("middle_len"),
        (col("l") - col("p2")).as("suffix_len"),
        length(col("fim")).cast("long").as("out_len"),
        md5(col("fim")).as("fim_md5"))
  }

  /** Corpus data card — the per-release summary a dataset ships with
    * (the Datasheets/Data-Cards practice): per-language doc counts,
    * character and estimated-token mass, short-doc rate and corpus
    * share, plus the ALL rollup row, all exact integer rates. ONE
    * ROLLUP aggregate over the scan (map-side combined, ≤ langs+1
    * group rows) + a 1-row total broadcast back for shares — at 100 TB
    * the card still fits on a screen, which is the point of a card. */
  def qDataCard(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
      .select(col("lang"), col("n_chars").cast("long").as("nc"))
      .localCheckpoint() // rollup + the 1-row total
    val tot = d.agg(count(lit(1)).as("total_docs"))
    d.rollup("lang")
      .agg(count(lit(1)).as("n_docs"), sum("nc").as("n_chars_total"),
        sum(ceil(col("nc").cast("double") / 4.0).cast("long"))
          .as("est_tokens"),
        sum(when(col("nc") < 100, 1L).otherwise(0L)).as("n_short"))
      .select(coalesce(col("lang"), lit("ALL")).as("lang"),
        col("n_docs"), col("n_chars_total"), col("est_tokens"),
        expr("n_short * 1000 div n_docs").as("short_pm"),
        expr("n_chars_total * 100 div n_docs").as("mean_chars_x100"))
      .crossJoin(broadcast(tot))
      .withColumn("share_pm", expr("n_docs * 1000 div total_docs"))
      .drop("total_docs")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_data_card" -> (qDataCard _),
    "q_fim_transform" -> (qFimTransform _),
    "q_span_corruption" -> (qSpanCorruption _),
    "q_length_buckets" -> (qLengthBuckets _),
    "q_domain_reputation" -> (qDomainReputation _),
    "q_dsir_resample" -> (qDsirResample _),
    "q_merkle_diff" -> (qMerkleDiff _),
    "q_chunk_rag" -> (qChunkRag _),
    "q_sample_priority" -> (qSamplePriority _),
    "q_range_shard" -> (qRangeShard _),

    "q_quality_percentile" -> (qQualityPercentile _),
    "q_chunk_dedup" -> (qChunkDedup _),
    "q_mix_resample" -> (qMixResample _),
    "q_mix_temperature" -> (qMixTemperature _),
    "q_score_drift" -> (qScoreDrift _),
    "q_snapshot_diff" -> (qSnapshotDiff _),
    "q_snapshot_drift" -> (qSnapshotDrift _),
    "q_quality_thresholds" -> (qQualityThresholds _),
    "q_quality_sampling" -> (qQualitySampling _),
    "q_corpus_stats" -> (qCorpusStats _),
    "q_split_stratified" -> (qSplitStratified _),
    "q_pack_sequences" -> (qPackSequences _),
    "q_pack_manifest" -> (qPackManifest _),
    "q_sample_token_budget" -> (qSampleTokenBudget _),
    "q_pack_sequences_sharded" -> (qPackSequencesSharded _),
    "q_sample_quota" -> (qSampleQuota _),
    "q_sample_quota_sharded" -> (qSampleQuotaSharded _),
    "q_epoch_shuffle" -> (qEpochShuffle _),
    "q_mix_report" -> (qMixReport _))

  // ---------------------------------------------------------------- oracles

  private val docsSql =
    "SELECT CAST(doc_id AS BIGINT) AS doc_id, text, lang FROM documents"

  /** SQL twin of TextFunctions.wordCount (0 for blank text). */
  private val wcSql =
    """CASE WHEN len(trim(text)) = 0 THEN 0
      |     ELSE len(regexp_split_to_array(trim(text), '\s+')) END"""
      .stripMargin.replace("\n", " ").replaceAll(" +", " ")

  /** SQL twin of TextFunctions.stopwordCount over normalized text. */
  private val stopSql =
    s"""len(regexp_extract_all(${TextSql.norm("text")},
       |  '\\b(${graft.functions.TextFunctions.langStopwords.head._2
                  .mkString("|")})\\b'))"""
      .stripMargin.replace("\n", " ").replaceAll(" +", " ")

  /** Shared chunking replay (through `c6`): the full stride/snap
    * chain both chunk oracles read. */
  private lazy val chunkCtes: String = {
    val stride = ChunkC - ChunkO
    s"""d AS ($docsSql),
       |dd AS (SELECT doc_id, text, CAST(len(text) AS BIGINT) AS ln,
       |         1 + GREATEST(0, (len(text) - $ChunkC + ${stride - 1})
       |               // $stride) AS n_chunks
       |       FROM d),
       |ch AS (SELECT doc_id, text, ln, n_chunks, CAST(i AS BIGINT) AS idx
       |       FROM dd, LATERAL (SELECT unnest(generate_series(0,
       |              CAST(n_chunks - 1 AS INT))) AS i) u),
       |c2 AS (SELECT doc_id, idx, idx * $stride AS cstart, text, ln,
       |         n_chunks,
       |         LEAST($ChunkC, ln - idx * $stride) AS tent_len FROM ch),
       |c3 AS (SELECT *,
       |         strpos(reverse(substr(text, CAST(cstart + 1 AS INT),
       |           CAST(tent_len AS INT))), ' .') AS dotp,
       |         strpos(reverse(substr(text, CAST(cstart + 1 AS INT),
       |           CAST(tent_len AS INT))), ' ') AS spacep FROM c2),
       |c4 AS (SELECT *,
       |         CASE WHEN dotp > 0 THEN tent_len - dotp
       |              ELSE 0 END AS last_dot,
       |         CASE WHEN spacep > 0 THEN tent_len - spacep + 1
       |              ELSE 0 END AS last_space FROM c3),
       |c5 AS (SELECT *,
       |         CASE WHEN idx = n_chunks - 1 THEN 'hard'
       |              WHEN last_dot >= $stride THEN 'sentence'
       |              WHEN last_space >= $stride THEN 'word'
       |              ELSE 'hard' END AS snap_kind FROM c4),
       |c6 AS (SELECT *, CASE WHEN snap_kind = 'sentence' THEN last_dot
       |                      WHEN snap_kind = 'word' THEN last_space
       |                      ELSE tent_len END AS chunk_len FROM c5)"""
      .stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_range_shard" ->
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |             CAST(len(text) AS BIGINT) AS k FROM documents),
         |h AS (SELECT k, COUNT(*) AS c FROM d GROUP BY 1),
         |cum AS (SELECT k, COALESCE(SUM(c) OVER (ORDER BY k
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |          0) AS below FROM h),
         |t AS (SELECT COUNT(*) AS n FROM d),
         |a AS (SELECT d.doc_id, d.k, t.n,
         |        CAST(LEAST($RangeShards - 1, below * $RangeShards // n)
         |          AS BIGINT) AS shard
         |      FROM d JOIN cum ON cum.k = d.k, t)
         |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  MIN(k) AS lo_key, MAX(k) AS hi_key,
         |  CAST(SUM(k) AS BIGINT) AS chars_sum,
         |  CAST(COUNT(*) * $RangeShards * 10000 // MAX(n) AS BIGINT)
         |    AS balance_bp
         |FROM a GROUP BY 1""".stripMargin,

    "q_data_card" ->
      """WITH d AS (SELECT lang, CAST(n_chars AS BIGINT) AS nc
        |           FROM documents),
        |g AS (SELECT COALESCE(lang, 'ALL') AS lang,
        |        COUNT(*) AS n_docs, SUM(nc) AS chars,
        |        SUM(CAST(ceil(nc / 4.0) AS BIGINT)) AS toks,
        |        SUM(CASE WHEN nc < 100 THEN 1 ELSE 0 END) AS sh
        |      FROM d GROUP BY ROLLUP(lang)),
        |t AS (SELECT COUNT(*) AS total FROM d)
        |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(chars AS BIGINT) AS n_chars_total,
        |  CAST(toks AS BIGINT) AS est_tokens,
        |  CAST(sh * 1000 // n_docs AS BIGINT) AS short_pm,
        |  CAST(chars * 100 // n_docs AS BIGINT) AS mean_chars_x100,
        |  CAST(n_docs * 1000 // t.total AS BIGINT) AS share_pm
        |FROM g, t""".stripMargin,

    "q_fim_transform" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
        |             CAST(len(text) AS BIGINT) AS l
        |           FROM documents),
        |sp AS (SELECT doc_id, text, l,
        |         1 + (doc_id * 31) % GREATEST(l // 2, 1) AS p1
        |       FROM d),
        |sp2 AS (SELECT doc_id, text, l, p1,
        |          p1 + 1 + (doc_id * 17) % GREATEST(l - p1 - 1, 1)
        |            AS p2
        |        FROM sp),
        |seg AS (SELECT doc_id, l, p1, p2,
        |          CASE WHEN doc_id % 2 = 0 THEN 'psm'
        |               ELSE 'spm' END AS mode,
        |          substr(text, 1, CAST(p1 AS INT)) AS pre,
        |          substr(text, CAST(p1 + 1 AS INT),
        |            CAST(p2 - p1 AS INT)) AS mid,
        |          substr(text, CAST(p2 + 1 AS INT),
        |            CAST(l - p2 AS INT)) AS suf
        |        FROM sp2),
        |f AS (SELECT doc_id, mode, p1, p2, l,
        |        CASE WHEN mode = 'psm'
        |          THEN '<PRE>' || pre || '<SUF>' || suf || '<MID>' || mid
        |          ELSE '<SUF>' || suf || '<PRE>' || pre || '<MID>' || mid
        |        END AS fim
        |      FROM seg)
        |SELECT doc_id, mode, p1 AS prefix_len, p2 - p1 AS middle_len,
        |  l - p2 AS suffix_len, CAST(len(fim) AS BIGINT) AS out_len,
        |  md5(fim) AS fim_md5
        |FROM f""".stripMargin,

    "q_span_corruption" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text
        |           FROM documents),
        |t AS (SELECT doc_id,
        |        CAST(len(list_filter(string_split_regex(lower(text),
        |          '[^a-z0-9]+'), w -> len(w) > 0)) AS BIGINT) AS n
        |      FROM d),
        |tok AS (SELECT doc_id, n,
        |          CAST(SUM(CASE WHEN (doc_id * 31 + i // 3) % 7 = 0
        |            THEN 1 ELSE 0 END) AS BIGINT) AS n_corr
        |        FROM t, LATERAL (SELECT unnest(generate_series(0,
        |          CAST(n - 1 AS INT))) AS i) u
        |        GROUP BY 1, 2),
        |sp AS (SELECT doc_id,
        |         CAST(SUM(CASE WHEN (doc_id * 31 + g) % 7 = 0
        |           AND (g = 0 OR (doc_id * 31 + g - 1) % 7 <> 0)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_spans
        |       FROM t, LATERAL (SELECT unnest(generate_series(0,
        |         CAST((n + 2) // 3 - 1 AS INT))) AS g) u
        |       GROUP BY 1)
        |SELECT tok.doc_id, tok.n AS n_tokens, tok.n_corr AS n_corrupted,
        |  sp.n_spans,
        |  tok.n - tok.n_corr + sp.n_spans AS input_len,
        |  tok.n_corr + sp.n_spans AS target_len,
        |  CAST(CASE WHEN tok.n > 0 THEN tok.n_corr * 1000 // tok.n
        |    ELSE 0 END AS BIGINT) AS corruption_pm
        |FROM tok JOIN sp ON tok.doc_id = sp.doc_id""".stripMargin,

    "q_length_buckets" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |             CAST(ceil(len(text) / 4.0) AS BIGINT) AS toks
        |           FROM documents),
        |r AS (SELECT doc_id, toks, toks // 32 AS bucket,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY toks // 32
        |          ORDER BY toks DESC, doc_id) - 1 AS BIGINT) // 8
        |          AS batch
        |      FROM d),
        |g AS (SELECT bucket, batch, COUNT(*) AS n_docs,
        |        MAX(toks) AS max_toks, SUM(toks) AS sum_toks
        |      FROM r GROUP BY 1, 2),
        |gb AS (SELECT bucket, batch, n_docs, max_toks, sum_toks,
        |         max_toks * 8 AS padded,
        |         max_toks * 8 - sum_toks AS waste
        |       FROM g),
        |nv AS (SELECT SUM(m) AS naive_padded FROM (
        |         SELECT MAX(toks) * 8 AS m FROM d
        |         GROUP BY doc_id // 8)),
        |tt AS (SELECT CAST(SUM(padded) AS BIGINT) AS bucketed_padded,
        |         (SELECT CAST(naive_padded AS BIGINT) FROM nv)
        |           AS naive_padded
        |       FROM gb)
        |SELECT gb.bucket, gb.batch, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(max_toks AS BIGINT) AS max_toks,
        |  CAST(sum_toks AS BIGINT) AS sum_toks,
        |  CAST(padded AS BIGINT) AS padded,
        |  CAST(waste AS BIGINT) AS waste,
        |  tt.bucketed_padded, tt.naive_padded,
        |  CAST((tt.naive_padded - tt.bucketed_padded) * 1000
        |    // tt.naive_padded AS BIGINT) AS savings_pm
        |FROM gb, tt""".stripMargin,

    "q_domain_reputation" ->
      """WITH g AS (SELECT source, COUNT(*) AS n_docs,
        |    SUM(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS n_short,
        |    SUM(CAST(n_chars AS BIGINT)) AS sum_chars
        |  FROM documents GROUP BY 1)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_short AS BIGINT) AS n_short,
        |  CAST(n_short * 1000 // n_docs AS BIGINT) AS short_pm,
        |  CAST(sum_chars * 100 // n_docs AS BIGINT) AS mean_chars_x100,
        |  CAST(GREATEST(1000 - (n_short * 1000 // n_docs) * 4, 0)
        |    AS BIGINT) AS rep_score,
        |  CAST(CASE WHEN GREATEST(1000 - (n_short * 1000 // n_docs) * 4,
        |    0) >= 400 THEN n_docs ELSE 0 END AS BIGINT) AS kept_docs
        |FROM g""".stripMargin,

    "q_quality_percentile" ->
      s"""WITH d AS ($docsSql),
         |b AS (SELECT doc_id, lang,
         |        CASE WHEN $wcSql = 0 THEN -1
         |             ELSE ($stopSql * 10000) // $wcSql END AS score
         |      FROM d),
         |h AS (SELECT score, COUNT(*) AS c FROM b GROUP BY 1),
         |cu AS (SELECT score,
         |         COALESCE(SUM(c) OVER (ORDER BY score
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |           0) AS below
         |       FROM h),
         |t AS (SELECT COUNT(*) AS n_corpus FROM b)
         |SELECT b.doc_id, b.lang, CAST(b.score AS BIGINT) AS score,
         |  CAST(cu.below * 10000 // t.n_corpus AS BIGINT) AS pct_bp,
         |  CAST(t.n_corpus AS BIGINT) AS n_corpus
         |FROM b JOIN cu ON b.score = cu.score, t""".stripMargin,

    "q_sample_priority" ->
      s"""WITH d AS ($docsSql),
         |b AS (SELECT doc_id, GREATEST(1, len(text) // 4) AS w,
         |        ${TextSql.fp(TextSql.norm("text"))} AS h
         |      FROM d),
         |p AS (SELECT doc_id, w, (h % 1048576) * 1000000 // w AS priority
         |      FROM b),
         |sm AS (SELECT doc_id, w, priority,
         |         CAST(ROW_NUMBER() OVER (ORDER BY priority, doc_id)
         |           AS INT) AS rk
         |       FROM p QUALIFY rk <= 100),
         |m AS (SELECT COUNT(*) AS n_corpus,
         |        SUM(w) // COUNT(*) AS mean_w_corpus FROM p),
         |ms AS (SELECT SUM(w) // COUNT(*) AS mean_w_sample FROM sm)
         |SELECT sm.doc_id, CAST(sm.w AS BIGINT) AS w,
         |  CAST(sm.priority AS BIGINT) AS priority, sm.rk,
         |  CAST(m.n_corpus AS BIGINT) AS n_corpus,
         |  CAST(m.mean_w_corpus AS BIGINT) AS mean_w_corpus,
         |  CAST(ms.mean_w_sample AS BIGINT) AS mean_w_sample
         |FROM sm, m, ms""".stripMargin,
    "q_chunk_rag" ->
      s"""WITH $chunkCtes
         |SELECT doc_id, idx AS chunk_idx, cstart AS start,
         |  cstart + chunk_len AS "end",
         |  CAST(chunk_len AS BIGINT) AS n_chars, snap_kind,
         |  ${TextSql.fp("substr(text, CAST(cstart + 1 AS INT), CAST(chunk_len AS INT))")}
         |    AS chunk_fp
         |FROM c6""".stripMargin,

    "q_chunk_dedup" ->
      s"""WITH $chunkCtes,
         |cf AS (SELECT doc_id, idx,
         |         ${TextSql.fp("substr(text, CAST(cstart + 1 AS INT), CAST(chunk_len AS INT))")}
         |           AS chunk_fp
         |       FROM c6),
         |g AS (SELECT chunk_fp, COUNT(*) AS n_copies,
         |        COUNT(DISTINCT doc_id) AS n_docs,
         |        MIN(doc_id) AS min_doc_id
         |      FROM cf GROUP BY 1 HAVING COUNT(*) >= 2),
         |m AS (SELECT COUNT(*) AS n_chunks_total,
         |        COUNT(DISTINCT chunk_fp) AS n_unique_fp
         |      FROM cf)
         |SELECT g.chunk_fp, CAST(g.n_copies AS BIGINT) AS n_copies,
         |  CAST(g.n_docs AS BIGINT) AS n_docs,
         |  CAST(g.min_doc_id AS BIGINT) AS min_doc_id,
         |  CAST(m.n_chunks_total AS BIGINT) AS n_chunks_total,
         |  CAST(m.n_unique_fp AS BIGINT) AS n_unique_fp,
         |  CAST(m.n_chunks_total - m.n_unique_fp AS BIGINT)
         |    AS n_embeds_saved
         |FROM g, m""".stripMargin,

    
    "q_merkle_diff" ->
      s"""WITH d AS ($docsSql),
         |prev AS (SELECT doc_id,
         |    (doc_id * 131 + ${TextSql.fp(TextSql.norm(
           "CASE WHEN doc_id % 97 = 0 THEN substr(text, 1, 40) ELSE text END"))})
         |      % 1073741824 AS rd
         |  FROM d WHERE doc_id % 211 <> 0),
         |cur AS (SELECT doc_id,
         |    (doc_id * 131 + ${TextSql.fp(TextSql.norm("text"))})
         |      % 1073741824 AS rd
         |  FROM d),
         |pl AS (SELECT doc_id % $MerkleLeaves AS leaf, COUNT(*) AS prev_n,
         |         SUM(rd) % 1000000007 AS prev_digest FROM prev GROUP BY 1),
         |cl AS (SELECT doc_id % $MerkleLeaves AS leaf, COUNT(*) AS cur_n,
         |         SUM(rd) % 1000000007 AS cur_digest FROM cur GROUP BY 1),
         |bl AS (SELECT COALESCE(pl.leaf, cl.leaf) AS leaf,
         |         COALESCE(prev_n, 0) AS prev_n,
         |         COALESCE(cur_n, 0) AS cur_n,
         |         COALESCE(prev_digest, 0) AS prev_digest,
         |         COALESCE(cur_digest, 0) AS cur_digest
         |       FROM pl FULL OUTER JOIN cl ON pl.leaf = cl.leaf),
         |b2 AS (SELECT bl.*, prev_digest <> cur_digest AS leaf_changed
         |       FROM bl),
         |nd AS (SELECT leaf // $MerkleFan AS node,
         |         SUM(prev_digest * (leaf % $MerkleFan + 1))
         |           % 1000000007 AS pnode,
         |         SUM(cur_digest * (leaf % $MerkleFan + 1))
         |           % 1000000007 AS cnode
         |       FROM b2 GROUP BY 1),
         |rt AS (SELECT SUM(pnode * (node + 1)) % 1000000007 AS prev_root,
         |         SUM(cnode * (node + 1)) % 1000000007 AS cur_root
         |       FROM nd),
         |mg AS (SELECT SUM(CASE WHEN leaf_changed THEN 1 ELSE 0 END)
         |         AS n_changed_leaves FROM b2)
         |SELECT leaf, CAST(prev_n AS BIGINT) AS prev_n,
         |  CAST(cur_n AS BIGINT) AS cur_n,
         |  CAST(prev_digest AS BIGINT) AS prev_digest,
         |  CAST(cur_digest AS BIGINT) AS cur_digest, leaf_changed,
         |  CAST(prev_root AS BIGINT) AS prev_root,
         |  CAST(cur_root AS BIGINT) AS cur_root,
         |  prev_root <> cur_root AS root_changed,
         |  CAST(n_changed_leaves AS BIGINT) AS n_changed_leaves
         |FROM b2, rt, mg""".stripMargin,

    "q_dsir_resample" ->
      s"""WITH d AS ($docsSql),
         |dw AS (SELECT doc_id, lang,
         |         list_transform(
         |           list_filter(string_split_regex(lower(text), '[^a-z]+'),
         |                       w -> len(w) > 0),
         |           w -> ${TextSql.fp("w", 131)}) AS hw,
         |         ${TextSql.fp(TextSql.norm("text"))} AS h
         |       FROM d),
         |feats AS (SELECT doc_id, lang, f
         |          FROM dw, LATERAL (SELECT unnest(list_concat(
         |                 list_transform(hw, x -> x % $DsirB),
         |                 list_transform(generate_series(1, len(hw) - 1),
         |                   i -> (hw[i] * 131 + hw[i + 1]) % $DsirB))) AS f)
         |               u),
         |qc AS (SELECT f, COUNT(*) AS qf FROM feats GROUP BY 1),
         |pc AS (SELECT f, COUNT(*) AS pf FROM feats WHERE lang = 'en'
         |       GROUP BY 1),
         |tot AS (SELECT (SELECT SUM(qf) FROM qc) AS sq,
         |               (SELECT SUM(pf) FROM pc) AS sp),
         |sc AS (SELECT qc.f,
         |         ((COALESCE(pf, 0) + 1) * 10000 // (qf + 1)) * sq // sp
         |           AS fscore
         |       FROM qc LEFT JOIN pc ON qc.f = pc.f, tot),
         |w AS (SELECT doc_id, SUM(fscore) * 1000 // COUNT(*) AS w_norm
         |      FROM feats JOIN sc USING (f) GROUP BY 1),
         |ww AS (SELECT dw.doc_id, dw.lang, dw.h,
         |         COALESCE(w.w_norm, 0) AS w_norm
         |       FROM dw LEFT JOIN w ON dw.doc_id = w.doc_id),
         |mx AS (SELECT SUM(w_norm) // COUNT(*) AS mu FROM ww),
         |dv AS (SELECT mu, SUM(ABS(w_norm - mu)) // COUNT(*) AS dev
         |       FROM ww, mx GROUP BY mu),
         |rws AS (SELECT doc_id, lang, w_norm,
         |          (h % 1048576) * (4 * dev)
         |            < (w_norm - mu + 2 * dev) * 1048576 AS accepted
         |        FROM ww, dv),
         |mg AS (SELECT lang, COUNT(*) AS lang_n,
         |         SUM(CASE WHEN accepted THEN 1 ELSE 0 END) AS lang_acc
         |       FROM rws GROUP BY 1)
         |SELECT r.doc_id, r.lang, CAST(r.w_norm AS BIGINT) AS w_norm,
         |  r.accepted, CAST(mg.lang_n AS BIGINT) AS lang_n,
         |  CAST(mg.lang_acc AS BIGINT) AS lang_acc,
         |  CAST(mg.lang_acc * 10000 // mg.lang_n AS BIGINT) AS lang_rate_bp
         |FROM rws r JOIN mg USING (lang)""".stripMargin,

    "q_snapshot_diff" ->
      s"""WITH d AS ($docsSql),
         |prev AS (SELECT doc_id,
         |    ${TextSql.fp(TextSql.norm(
           "CASE WHEN doc_id % 11 = 0 THEN substr(text, 1, 40) ELSE text END"))}
         |      AS prev_h
         |  FROM d WHERE doc_id % 7 <> 3),
         |cur AS (SELECT doc_id, ${TextSql.fp(TextSql.norm("text"))} AS cur_h
         |  FROM d WHERE doc_id % 13 <> 5)
         |SELECT COALESCE(prev.doc_id, cur.doc_id) AS doc_id,
         |  prev_h, cur_h,
         |  CASE WHEN prev_h IS NULL THEN 'added'
         |       WHEN cur_h IS NULL THEN 'removed'
         |       WHEN prev_h <> cur_h THEN 'changed'
         |       ELSE 'unchanged' END AS status
         |FROM prev FULL OUTER JOIN cur ON prev.doc_id = cur.doc_id"""
        .stripMargin,

    "q_quality_thresholds" ->
      s"""WITH d AS ($docsSql),
         |s AS (SELECT doc_id, lang,
         |        CASE WHEN $wcSql = 0 THEN CAST(-1 AS BIGINT)
         |             ELSE (CAST($stopSql AS BIGINT) * 10000)
         |                  // CAST($wcSql AS BIGINT) END AS score
         |      FROM d),
         |h AS (SELECT lang, score, COUNT(*) AS c FROM s GROUP BY 1, 2),
         |cw AS (SELECT lang, score,
         |         CAST(SUM(c) OVER (PARTITION BY lang ORDER BY score
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum,
         |         CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS n
         |       FROM h),
         |t AS (SELECT lang,
         |        MIN(CASE WHEN cum >= (n + 2) // 3 THEN score END) AS t33,
         |        MIN(CASE WHEN cum >= (n * 2 + 2) // 3 THEN score END)
         |          AS t66
         |      FROM cw GROUP BY 1)
         |SELECT s.doc_id, s.lang, s.score, t.t33, t.t66,
         |  CASE WHEN s.score >= t.t66 THEN 'head'
         |       WHEN s.score >= t.t33 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM s JOIN t ON s.lang = t.lang""".stripMargin,

    // quality-aware sampling: tercile CTEs + content-hash acceptance
    // with per-bucket integer thresholds (head 100% / middle 50% /
    // tail 10%)
    "q_quality_sampling" ->
      s"""WITH d AS ($docsSql),
         |s AS (SELECT doc_id, lang,
         |        CASE WHEN $wcSql = 0 THEN CAST(-1 AS BIGINT)
         |             ELSE (CAST($stopSql AS BIGINT) * 10000)
         |                  // CAST($wcSql AS BIGINT) END AS score
         |      FROM d),
         |hh AS (SELECT lang, score, COUNT(*) AS c FROM s GROUP BY 1, 2),
         |cw AS (SELECT lang, score,
         |         CAST(SUM(c) OVER (PARTITION BY lang ORDER BY score
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum,
         |         CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS n
         |       FROM hh),
         |t AS (SELECT lang,
         |        MIN(CASE WHEN cum >= (n + 2) // 3 THEN score END) AS t33,
         |        MIN(CASE WHEN cum >= (n * 2 + 2) // 3 THEN score END)
         |          AS t66
         |      FROM cw GROUP BY 1),
         |b AS (SELECT s.doc_id, s.lang, s.score,
         |        CASE WHEN s.score >= t.t66 THEN 'head'
         |             WHEN s.score >= t.t33 THEN 'middle'
         |             ELSE 'tail' END AS bucket
         |      FROM s JOIN t ON s.lang = t.lang),
         |fh AS (SELECT doc_id, ${TextSql.fp(TextSql.norm("text"))} AS h FROM d)
         |SELECT b.doc_id, b.lang, b.score, b.bucket, fh.h,
         |  CAST(CASE WHEN b.bucket = 'head' THEN 1000000
         |       WHEN b.bucket = 'middle' THEN 500000
         |       ELSE 100000 END AS BIGINT) AS thresh,
         |  fh.h % 1000000 < (CASE WHEN b.bucket = 'head' THEN 1000000
         |       WHEN b.bucket = 'middle' THEN 500000
         |       ELSE 100000 END) AS accepted
         |FROM b JOIN fh ON fh.doc_id = b.doc_id""".stripMargin,

    "q_corpus_stats" ->
      s"""WITH d AS (SELECT lang, CAST(len(text) AS BIGINT) AS len
         |           FROM documents),
         |h AS (SELECT lang, len // $HistBucket AS b, COUNT(*) AS c,
         |        CAST(SUM(len) AS BIGINT) AS mass, MAX(len) AS mx
         |      FROM d GROUP BY 1, 2),
         |cw AS (SELECT lang, b, c, mass, mx,
         |         CAST(SUM(c) OVER (PARTITION BY lang ORDER BY b
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum,
         |         CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS n,
         |         CAST(SUM(mass) OVER (PARTITION BY lang) AS BIGINT)
         |           AS total_chars,
         |         MAX(mx) OVER (PARTITION BY lang) AS max_len
         |       FROM h)
         |SELECT lang, MIN(n) AS n_docs, MIN(total_chars) AS total_chars,
         |  CAST(MIN(CASE WHEN cum >= (n * 1 + 1) // 2
         |           THEN b * $HistBucket END) AS BIGINT) AS p50_len,
         |  CAST(MIN(CASE WHEN cum >= (n * 9 + 9) // 10
         |           THEN b * $HistBucket END) AS BIGINT) AS p90_len,
         |  MIN(max_len) AS max_len
         |FROM cw GROUP BY lang""".stripMargin,

    "q_split_stratified" ->
      s"""WITH d AS ($docsSql),
         |h AS (SELECT doc_id, lang,
         |        ${TextSql.fp(TextSql.norm("text"))} AS h FROM d),
         |b AS (SELECT doc_id, lang, h, h % 10 AS bucket,
         |        CASE WHEN h % 10 < 8 THEN 'train'
         |             WHEN h % 10 = 8 THEN 'val'
         |             ELSE 'test' END AS split
         |      FROM h),
         |g AS (SELECT lang, split, COUNT(*) AS n_stratum
         |      FROM b GROUP BY 1, 2),
         |l AS (SELECT lang, CAST(SUM(n_stratum) AS BIGINT) AS n_lang
         |      FROM g GROUP BY 1)
         |SELECT b.doc_id, b.lang, b.h, b.bucket, b.split, g.n_stratum,
         |  ROUND(CAST(g.n_stratum AS DOUBLE) / l.n_lang, 4)
         |    AS stratum_frac
         |FROM b
         |JOIN g ON b.lang = g.lang AND b.split = g.split
         |JOIN l ON b.lang = l.lang""".stripMargin,

    "q_pack_sequences" ->
      s"""WITH d AS ($docsSql),
         |t AS (SELECT doc_id, lang,
         |        CAST(CEIL(CAST(len(text) AS DOUBLE) / 4.0) AS BIGINT)
         |          AS tokens
         |      FROM d),
         |c AS (SELECT doc_id, lang, tokens,
         |        CAST(SUM(tokens) OVER (PARTITION BY lang
         |          ORDER BY tokens DESC, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |          AS BIGINT) AS cum
         |      FROM t),
         |g AS (SELECT lang, (cum - tokens) // $Budget AS bin,
         |        COUNT(*) AS n_docs,
         |        CAST(SUM(tokens) AS BIGINT) AS sum_tokens
         |      FROM c GROUP BY 1, 2)
         |SELECT lang, bin, n_docs, sum_tokens,
         |  ROUND(CAST(sum_tokens AS DOUBLE) / ${Budget}.0, 4) AS fill_ratio
         |FROM g""".stripMargin,

    // per-doc manifest replay: same window arithmetic, per-bin ranks,
    // start offsets and the boundary-crossing flag
    "q_pack_manifest" ->
      s"""WITH d AS ($docsSql),
         |t AS (SELECT doc_id, lang,
         |        CAST(CEIL(CAST(len(text) AS DOUBLE) / 4.0) AS BIGINT)
         |          AS tokens
         |      FROM d),
         |c AS (SELECT doc_id, lang, tokens,
         |        CAST(SUM(tokens) OVER (PARTITION BY lang
         |          ORDER BY tokens DESC, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |          AS BIGINT) AS cum
         |      FROM t),
         |b AS (SELECT lang, doc_id, tokens,
         |        (cum - tokens) // $Budget AS bin,
         |        (cum - tokens) % $Budget AS start_tok
         |      FROM c)
         |SELECT lang, bin,
         |  ROW_NUMBER() OVER (PARTITION BY lang, bin
         |    ORDER BY tokens DESC, doc_id) AS seq,
         |  doc_id, tokens, start_tok,
         |  start_tok + tokens > $Budget AS crosses_boundary
         |FROM b""".stripMargin,

    // token-budget acceptance replay: running sum BEFORE each doc in
    // (hash, id) order per language
    "q_sample_token_budget" ->
      s"""WITH d AS ($docsSql),
         |h AS (SELECT doc_id, lang, ${TextSql.fp(TextSql.norm("text"))} AS h,
         |        CAST(CEIL(CAST(len(text) AS DOUBLE) / 4.0) AS BIGINT)
         |          AS tokens
         |      FROM d),
         |c AS (SELECT doc_id, lang, h, tokens,
         |        CAST(COALESCE(SUM(tokens) OVER (PARTITION BY lang
         |          ORDER BY h, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |          0) AS BIGINT) AS cum_before
         |      FROM h)
         |SELECT doc_id, lang, h, tokens, cum_before,
         |  cum_before < 4000 AS accepted
         |FROM c""".stripMargin,

    "q_pack_sequences_sharded" ->
      s"""WITH d AS ($docsSql),
         |t AS (SELECT doc_id, lang,
         |        CAST(doc_id % $Shards AS INT) AS shard,
         |        CAST(CEIL(CAST(len(text) AS DOUBLE) / 4.0) AS BIGINT)
         |          AS tokens
         |      FROM d),
         |c AS (SELECT doc_id, lang, shard, tokens,
         |        CAST(SUM(tokens) OVER (PARTITION BY lang, shard
         |          ORDER BY tokens DESC, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |          AS BIGINT) AS cum
         |      FROM t),
         |g AS (SELECT lang, shard, (cum - tokens) // $Budget AS bin,
         |        COUNT(*) AS n_docs,
         |        CAST(SUM(tokens) AS BIGINT) AS sum_tokens
         |      FROM c GROUP BY 1, 2, 3),
         |m AS (SELECT *, MAX(bin) OVER (PARTITION BY lang, shard) AS mx
         |      FROM g),
         |rc AS (SELECT lang, shard, n_docs, sum_tokens,
         |         CAST(SUM(sum_tokens) OVER (PARTITION BY lang
         |           ORDER BY sum_tokens DESC, shard
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum
         |       FROM m WHERE bin = mx),
         |mg AS (SELECT lang, (cum - sum_tokens) // $Budget AS bin,
         |         CAST(SUM(n_docs) AS BIGINT) AS n_docs,
         |         CAST(SUM(sum_tokens) AS BIGINT) AS sum_tokens
         |       FROM rc GROUP BY 1, 2),
         |u AS (SELECT lang, shard, bin, n_docs, sum_tokens
         |      FROM m WHERE bin <> mx
         |      UNION ALL
         |      SELECT lang, CAST(-1 AS INT), bin, n_docs, sum_tokens
         |      FROM mg)
         |SELECT lang, shard, bin, n_docs, sum_tokens,
         |  ROUND(CAST(sum_tokens AS DOUBLE) / ${Budget}.0, 4) AS fill_ratio
         |FROM u""".stripMargin,

    "q_sample_quota" ->
      s"""WITH d AS ($docsSql),
         |h AS (SELECT doc_id, lang,
         |        ${TextSql.fp(TextSql.norm("text"))} AS h FROM d),
         |r AS (SELECT doc_id, lang, h,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY lang
         |          ORDER BY h, doc_id) AS INT) AS rk
         |      FROM h)
         |SELECT doc_id, lang, h, rk FROM r WHERE rk <= $Quota""".stripMargin,

    "q_epoch_shuffle" ->
      s"""WITH d AS ($docsSql),
         |h AS (SELECT doc_id, lang,
         |        (${TextSql.fp(TextSql.norm("text"))} * 2654435761 + 1)
         |          % 1000000007 AS h
         |      FROM d)
         |SELECT doc_id, lang, h, h % 64 AS shard,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY h % 64
         |    ORDER BY h // 64, doc_id) AS BIGINT) AS pos
         |FROM h""".stripMargin,

    // sharded two-level top-k is EXACT, so its oracle IS the
    // single-level ranking — indexing topology must not change answers
    "q_sample_quota_sharded" ->
      s"""WITH d AS ($docsSql),
         |h AS (SELECT doc_id, lang,
         |        ${TextSql.fp(TextSql.norm("text"))} AS h FROM d),
         |r AS (SELECT doc_id, lang, h,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY lang
         |          ORDER BY h, doc_id) AS INT) AS rk
         |      FROM h)
         |SELECT doc_id, lang, h, rk FROM r WHERE rk <= $Quota""".stripMargin,

    "q_snapshot_drift" -> {
      def shingles(tcol: String, out: String) =
        s"""$out AS (SELECT DISTINCT doc_id, s FROM (${TextSql.shingles(
             s"(SELECT doc_id, $tcol AS t FROM vs)", 8, 131)}))"""
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text
         |           FROM documents
         |           WHERE doc_id % 7 <> 3 AND doc_id % 13 <> 5),
         |v AS (SELECT doc_id, text,
         |        CASE WHEN doc_id % 11 = 0 THEN substr(text, 1, 40)
         |             ELSE text END AS ptext FROM d),
         |vs AS (SELECT doc_id, lower(ptext) AS pt, lower(text) AS ct,
         |         ${TextSql.fp(TextSql.norm("ptext"))} AS ph,
         |         ${TextSql.fp(TextSql.norm("text"))} AS ch FROM v),
         |${shingles("pt", "psh")},
         |${shingles("ct", "csh")},
         |na AS (SELECT doc_id, COUNT(*) AS n FROM psh GROUP BY 1),
         |nb AS (SELECT doc_id, COUNT(*) AS n FROM csh GROUP BY 1),
         |sh AS (SELECT p.doc_id, COUNT(*) AS shared FROM psh p
         |       JOIN csh c ON c.doc_id = p.doc_id AND c.s = p.s
         |       GROUP BY 1)
         |SELECT vs.doc_id,
         |  CASE WHEN ph <> ch THEN 'changed' ELSE 'unchanged' END
         |    AS status,
         |  CAST(COALESCE(na.n, 0) AS BIGINT) AS n_prev,
         |  CAST(COALESCE(nb.n, 0) AS BIGINT) AS n_cur,
         |  CAST(COALESCE(sh.shared, 0) AS BIGINT) AS shared,
         |  CASE WHEN COALESCE(na.n, 0) + COALESCE(nb.n, 0)
         |            - COALESCE(sh.shared, 0) = 0 THEN 1.0
         |       ELSE ROUND(CAST(COALESCE(sh.shared, 0) AS DOUBLE)
         |         / CAST(COALESCE(na.n, 0) + COALESCE(nb.n, 0)
         |                - COALESCE(sh.shared, 0) AS DOUBLE), 4)
         |  END AS jac
         |FROM vs
         |LEFT JOIN na ON na.doc_id = vs.doc_id
         |LEFT JOIN nb ON nb.doc_id = vs.doc_id
         |LEFT JOIN sh ON sh.doc_id = vs.doc_id""".stripMargin
    },

    "q_mix_resample" ->
      s"""WITH d AS ($docsSql),
         |h AS (SELECT doc_id, lang,
         |        ${TextSql.fp(TextSql.norm("text"))} AS h FROM d),
         |c AS (SELECT lang, COUNT(*) AS n_lang FROM h GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_lang) AS BIGINT) AS total,
         |        COUNT(*) AS n_langs FROM c),
         |w AS (SELECT lang, n_lang,
         |        CAST(least(1000000,
         |          (1000000 * total) // (n_langs * n_lang)) AS BIGINT)
         |          AS thresh
         |      FROM c, t)
         |SELECT h.doc_id, h.lang, h.h, w.n_lang, w.thresh,
         |  h.h % 1000000 < w.thresh AS accepted
         |FROM h JOIN w ON w.lang = h.lang""".stripMargin,

    // drift replay: same snapshot derivations, same integer score,
    // same rational chi-square with integer-nano quantized terms
    "q_score_drift" ->
      s"""WITH d AS ($docsSql),
         |pv AS (SELECT CASE WHEN doc_id % 11 = 0
         |          THEN substr(text, 1, 40) ELSE text END AS t
         |       FROM d WHERE doc_id % 7 <> 3),
         |cu AS (SELECT text AS t FROM d WHERE doc_id % 13 <> 5),
         |sc AS (SELECT 'prev' AS side,
         |         CASE WHEN (CASE WHEN len(trim(t)) = 0 THEN 0
         |             ELSE len(regexp_split_to_array(trim(t), '\\s+'))
         |             END) = 0 THEN -1
         |           ELSE (len(regexp_extract_all(lower(trim(
         |               regexp_replace(t, '\\s+', ' ', 'g'))),
         |               '\\b(the|and|of|is|a)\\b')) * 10000)
         |             // len(regexp_split_to_array(trim(t), '\\s+'))
         |         END AS score
         |       FROM pv
         |       UNION ALL
         |       SELECT 'cur',
         |         CASE WHEN (CASE WHEN len(trim(t)) = 0 THEN 0
         |             ELSE len(regexp_split_to_array(trim(t), '\\s+'))
         |             END) = 0 THEN -1
         |           ELSE (len(regexp_extract_all(lower(trim(
         |               regexp_replace(t, '\\s+', ' ', 'g'))),
         |               '\\b(the|and|of|is|a)\\b')) * 10000)
         |             // len(regexp_split_to_array(trim(t), '\\s+'))
         |         END
         |       FROM cu),
         |g AS (SELECT CASE WHEN score < 0 THEN -1
         |        ELSE LEAST(score // 50, 19) END AS bucket,
         |        SUM(CASE WHEN side = 'prev' THEN 1 ELSE 0 END)
         |          AS n_prev,
         |        SUM(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS n_cur
         |      FROM sc GROUP BY 1),
         |t AS (SELECT SUM(n_prev) AS tp, SUM(n_cur) AS tc FROM g),
         |w AS (SELECT bucket, n_prev, n_cur, tp, tc,
         |        (n_prev * tc - n_cur * tp) AS num,
         |        CAST(tp * tc AS DOUBLE)
         |          * CAST(n_prev * tc + n_cur * tp AS DOUBLE) AS den
         |      FROM g, t),
         |cn AS (SELECT *, CAST(ROUND(CAST(num * num AS DOUBLE) / den
         |         * 1e9, 0) AS BIGINT) AS contrib_nano FROM w),
         |c2 AS (SELECT ROUND(CAST(SUM(contrib_nano) AS DOUBLE) / 1e9,
         |         6) AS chi2 FROM cn)
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |  CAST(n_prev AS BIGINT) AS n_prev,
         |  CAST(n_cur AS BIGINT) AS n_cur,
         |  ROUND(CAST(n_prev AS DOUBLE) / CAST(tp AS DOUBLE), 6)
         |    AS frac_prev,
         |  ROUND(CAST(n_cur AS DOUBLE) / CAST(tc AS DOUBLE), 6)
         |    AS frac_cur,
         |  ROUND(CAST(contrib_nano AS DOUBLE) / 1e9, 6) AS contrib,
         |  chi2
         |FROM cn, c2""".stripMargin,

    // α=0.5 temperature actuator: keep = sqrt(n_min/n_l); sqrt is
    // IEEE correctly rounded in BOTH engines, so the double chain
    // sqrt→divide→multiply→floor is bit-identical and the threshold
    // needs no rounding guard
    "q_mix_temperature" ->
      s"""WITH d AS ($docsSql),
         |h AS (SELECT doc_id, lang,
         |        ${TextSql.fp(TextSql.norm("text"))} AS h FROM d),
         |c AS (SELECT lang, COUNT(*) AS n_lang FROM h GROUP BY 1),
         |t AS (SELECT MIN(n_lang) AS n_min FROM c),
         |w AS (SELECT lang, n_lang,
         |        CAST(least(1000000, floor(1000000.0
         |          * sqrt(CAST(n_min AS DOUBLE))
         |          / sqrt(CAST(n_lang AS DOUBLE)))) AS BIGINT) AS thresh
         |      FROM c, t)
         |SELECT h.doc_id, h.lang, h.h, w.n_lang, w.thresh,
         |  h.h % 1000000 < w.thresh AS accepted
         |FROM h JOIN w ON w.lang = h.lang""".stripMargin,

    "q_mix_report" ->
      """WITH d AS (SELECT lang, source,
        |             CAST(CEIL(CAST(len(text) AS DOUBLE) / 4.0) AS BIGINT)
        |               AS tokens
        |           FROM documents),
        |g AS (SELECT lang, source, COUNT(*) AS n_docs,
        |        CAST(SUM(tokens) AS BIGINT) AS sum_tokens
        |      FROM d GROUP BY 1, 2),
        |t AS (SELECT CAST(SUM(sum_tokens) AS BIGINT) AS total_tokens FROM g)
        |SELECT g.lang, g.source, g.n_docs, g.sum_tokens,
        |  ROUND(CAST(g.sum_tokens AS DOUBLE)
        |      / CAST(t.total_tokens AS DOUBLE), 6) AS token_share
        |FROM g, t""".stripMargin)
}
