package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions.{codes, fold}
import graft.operators.{Bpe, Dedup, Triangles}

/** Near-dup queries over documents (SURVEY.md §2 rows 29-31).
  * ALL four are fully hash-checked against DuckDB: the shingle/token
  * hashes are engine-portable rolling hashes (mod 2^31-1), so the oracle
  * replays minhash banding, simhash bit-sums, jaccard set arithmetic and
  * the min-label cluster recurrence exactly.
  */
object DedupQueries {

  private[graft] val K = 16 // shingle width
  private val MaxDf = 20    // posting-list cap
  private val MinJac = 0.2

  // every consumer runs a per-doc kernel (shingle/minhash/simhash/CDC)
  // before its first exchange — spread the single-row-group scan so the
  // kernel work isn't single-threaded (Tables.spread: no-op on real
  // many-file corpora)
  private[graft] def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.load(spark, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text")))

  def qNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(docs(spark, dir), K, MaxDf, MinJac)

  def qMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(docs(spark, dir), K, numHashes = 64, bands = 16,
      minEst = 0.2)

  def qSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(docs(spark, dir), maxHamming = 6)

  /** Containment dedup: the corpus plus PLANTED FRAGMENTS — every 4th
    * doc contributes its middle slice under a disjoint id space
    * (doc-inside-doc cases by construction, the CSV/langid planting
    * move) — swept for one-sided containment. A fragment scores
    * cont≈1 against its source while their symmetric Jaccard is ~1/3,
    * exactly the case row 31 cannot flag. */
  def qDedupContainment(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir)
    val frags = base.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        expr("substring(text, length(text) DIV 4 + 1, " +
          "length(text) DIV 2)").as("text"))
    Dedup.containmentPairs(base.unionByName(frags), K, MaxDf,
      minCont = 0.8)
  }

  /** Canonical doc per transitive near-dup cluster (minhash pairs as the
    * edge set). */
  def qDedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    Dedup.dedupClusters(d,
      Dedup.minhashPairs(d, K, numHashes = 64, bands = 16, minEst = 0.2),
      iters = 3) // near-dup components are shallow; 3 hops covers them
  }

  /** Keep-BEST canonical selection — the curation rule real dedup
    * ships with: within a near-dup cluster you keep the highest-
    * QUALITY copy, not the lowest id (min-id is a determinism anchor,
    * not an editorial judgment). Clusters from the minhash components
    * (row 43), quality = the integer stopword-rate score of row 86,
    * winner per cluster by ONE k=1 bounded heap on (quality desc,
    * doc_id) — never a per-cluster sort; singleton docs keep
    * themselves. */
  def qDedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val d = docs(spark, dir)
    val clusters = Dedup.dedupClusters(d,
      Dedup.minhashPairs(d, K, numHashes = 64, bands = 16, minEst = 0.2),
      iters = 3)
      .select(col("doc_id"), col("canonical_id").as("cluster_id"))
    val quality = d
      .select(col("doc_id"), wordCount(col("text")).as("n_words"),
        stopwordCount(norm(col("text")), langStopwords.head._2)
          .as("n_stop"))
      .select(col("doc_id"),
        expr("CASE WHEN n_words = 0 THEN -1 " +
          "ELSE (n_stop * 10000) DIV n_words END").as("quality"))
    val scored = clusters.join(quality, Seq("doc_id"))
      .localCheckpoint() // winner agg + final join-back
    val best = scored.groupBy("cluster_id")
      .agg(graft.functions.TopKAgg(-col("quality").cast("double"),
        col("doc_id"), col("doc_id"), 1).as("tk"))
      .select(col("cluster_id"),
        element_at(col("tk"), 1).getField("payload").as("kept_id"))
    scored.join(best, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("quality"),
        col("kept_id"), (col("doc_id") === col("kept_id")).as("keep"))
  }

  /** Dedup-AWARE train/val/test split — the leakage rule row 61's
    * per-document split cannot enforce: near-duplicates of a training
    * document must not land in eval (they are the same content; a
    * doc-keyed hash splits a near-dup pair across the boundary and the
    * eval set silently overlaps train). Split key = the content hash
    * of the CLUSTER CANONICAL, so every member follows its canonical
    * into one split (same 8/1/1 mod-10 rule as row 61, same
    * re-shard/renumber stability); the output carries the AUDIT as a
    * broadcast 1-row marginal — the count of near-dup pairs crossing a
    * split boundary, which is ZERO by construction here and exactly
    * the number a doc-keyed split would leak. */
  def qSplitDedupAware(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val d = docs(spark, dir)
    val pairs = Dedup.minhashPairs(d, K, numHashes = 64, bands = 16,
      minEst = 0.2).select(col("ida"), col("idb"))
      .localCheckpoint() // cluster build + leak audits
    val clusters = Dedup.dedupClusters(d, pairs, iters = 3)
      .select(col("doc_id"), col("canonical_id").as("cluster_id"))
    val canonH = d.select(col("doc_id").as("cluster_id"),
      rollingFingerprint(norm(col("text"))).as("ch"))
    val assigned = clusters.join(canonH, Seq("cluster_id"))
      .withColumn("split",
        when(col("ch") % 10 < 8, lit("train"))
          .when(col("ch") % 10 === 8, lit("val"))
          .otherwise(lit("test")))
      .select(col("doc_id"), col("cluster_id"), col("split"))
      .localCheckpoint() // output + both leak audits
    def crossCount(s: DataFrame, name: String) = pairs
      .join(s.select(col("doc_id").as("ida"), col("split").as("sa")),
        Seq("ida"))
      .join(s.select(col("doc_id").as("idb"), col("split").as("sb")),
        Seq("idb"))
      .agg(sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L))
        .as(name))
    // the counterfactual: the same pairs under row 61's doc-keyed split
    val docKeyed = d.select(col("doc_id"),
      when(rollingFingerprint(norm(col("text"))) % 10 < 8, lit("train"))
        .when(rollingFingerprint(norm(col("text"))) % 10 === 8,
          lit("val"))
        .otherwise(lit("test")).as("split"))
    assigned
      .crossJoin(broadcast(crossCount(assigned, "leaked_pairs")))
      .crossJoin(broadcast(crossCount(docKeyed, "dockeyed_leaked")))
  }

  /** Connected components by large-star/small-star (operators.
    * ConnectedComponents) — the O(log n)-round algorithm production
    * graph systems use where min-label propagation needs
    * diameter-many rounds; identical components on this data
    * (spec-pinned vs qDedupClusters), so the oracle is the cluster
    * recurrence oracle: the ALGORITHM must not change answers. */
  def qDedupCc(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    graft.operators.ConnectedComponents.components(d,
      Dedup.minhashPairs(d, K, numHashes = 64, bands = 16,
        minEst = 0.2).select(col("ida"), col("idb")))
  }

  /** Incremental components: the 80% of docs with doc_id % 5 != 4 play
    * yesterday's corpus (assignment built once with the star rounds);
    * the rest land as today's delta batch, whose pairs merge through
    * [[ConnectedComponents.componentsDelta]]'s contracted graph —
    * never a corpus-wide recluster. The pair partition (both-base vs
    * touches-delta) unions to the full minhash pair set, so the final
    * assignment must equal the from-scratch build: the oracle is the
    * cluster-recurrence oracle once more. */
  def qDedupCcDelta(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val all = Dedup.minhashPairs(d, K, numHashes = 64, bands = 16,
      minEst = 0.2).select(col("ida"), col("idb")).localCheckpoint()
    val basePairs = all.filter(col("ida") % 5 =!= 4 && col("idb") % 5 =!= 4)
    val deltaPairs = all.filter(col("ida") % 5 === 4 || col("idb") % 5 === 4)
    val baseAssign = graft.operators.ConnectedComponents
      .components(d.filter(col("doc_id") % 5 =!= 4), basePairs)
      .select(col("doc_id"), col("canonical_id"))
    graft.operators.ConnectedComponents
      .componentsDelta(d, baseAssign, deltaPairs)
  }

  /** Benchmark decontamination: docs from source 'src0' play the
    * held-out benchmark; every other doc reports what fraction of its
    * distinct 16-shingles leak from that set. */
  def qDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.spread(Tables.load(spark, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        col("source")))
    Dedup.decontaminate(
      d.filter(col("source") =!= "src0").select("doc_id", "text"),
      d.filter(col("source") === "src0").select("doc_id", "text"),
      K, flagAt = 0.2)
  }

  /** Bloom-prefilter decontamination (same partition of the corpus as
    * q_decontaminate): the shape for a benchmark set past broadcast
    * size — ship a 1 Mbit filter, shuffle only the survivors. Exact
    * result; the bloom diagnostics (pass/false-positive counts) are
    * part of the output so the oracle pins the filter itself. */
  def qDecontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.spread(Tables.load(spark, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        col("source")))
    Dedup.decontaminateBloom(
      d.filter(col("source") =!= "src0").select("doc_id", "text"),
      d.filter(col("source") === "src0").select("doc_id", "text"),
      K, flagAt = 0.2)
  }

  /** Triangle census of the near-dup candidate graph (same pair
    * pipeline as q_dedup_clusters): per-vertex triangle count and
    * clustering coefficient via degree orientation — dense boilerplate
    * families read as high-clustering vertices, chained partial
    * matches as low. */
  def qTriangleCount(spark: SparkSession, dir: String): DataFrame =
    Triangles.triangleStats(
      Dedup.minhashPairs(docs(spark, dir), K, numHashes = 64, bands = 16,
        minEst = 0.2).select(col("ida").as("a"), col("idb").as("b")))

  /** Dedup-quality EVAL harness — the retrieval-eval pattern applied to
    * the dedup family: on a deterministic 1-in-2 content-stable sample,
    * exact pairwise Jaccard over the shingle-hash sets is ground truth,
    * the minhash LSH pipeline is the system under test, and
    * precision/recall/F1 come out per threshold. This is how a 100 TB
    * pipeline prices its LSH operating point: ground truth corpus-wide
    * is unaffordable BY DESIGN (it is the all-pairs join LSH exists to
    * avoid), so it runs on a bounded sample and the metric series stays
    * comparable between crawls. */
  def qDedupEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sample = docs(spark, dir).filter(col("doc_id") % 2 === 0)
      .localCheckpoint() // truth + pred both re-read the sample text
    val sh = Dedup.shingleHashes(sample, K, 31L, 2147483647L)
      .select(col("doc_id"), col("s")).distinct().localCheckpoint()
    val na = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val shared = sh.select(col("doc_id").as("ida"), col("s"))
      .join(sh.select(col("doc_id").as("idb"), col("s")), Seq("s"))
      .filter(col("ida") < col("idb"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("shared"))
    val truth = shared
      .join(na.select(col("doc_id").as("ida"), col("n").as("nA")),
        Seq("ida"))
      .join(na.select(col("doc_id").as("idb"), col("n").as("nB")),
        Seq("idb"))
      .select(col("ida"), col("idb"),
        round(col("shared").cast("double")
          / (col("nA") + col("nB") - col("shared")).cast("double"), 4)
          .as("jac"))
    val pred = Dedup.minhashPairs(sample, K, numHashes = 64, bands = 16,
      minEst = 0.2).select(col("ida"), col("idb"), col("est"))
    val joined = truth.join(pred, Seq("ida", "idb"), "full_outer")
      .select(coalesce(col("jac"), lit(0.0)).as("jac"),
        coalesce(col("est"), lit(-1.0)).as("est"))
    joined.crossJoin(broadcast(Seq(0.2, 0.35, 0.5).toDF("t")))
      .groupBy("t")
      .agg(
        sum(when(col("jac") >= col("t"), 1L).otherwise(0L)).as("n_truth"),
        sum(when(col("est") >= col("t"), 1L).otherwise(0L)).as("n_pred"),
        sum(when(col("jac") >= col("t") && col("est") >= col("t"), 1L)
          .otherwise(0L)).as("tp"))
      .select(col("t"), col("n_truth"), col("n_pred"), col("tp"),
        (col("n_pred") - col("tp")).as("fp"),
        (col("n_truth") - col("tp")).as("fn"),
        when(col("n_pred") === 0, lit(0.0)).otherwise(
          round(col("tp").cast("double") / col("n_pred").cast("double"),
            4)).as("precision"),
        when(col("n_truth") === 0, lit(0.0)).otherwise(
          round(col("tp").cast("double") / col("n_truth").cast("double"),
            4)).as("recall"),
        // F1 = 2PR/(P+R) = 2tp/(truth+pred): exact integers, one round
        when(col("n_truth") + col("n_pred") === 0, lit(0.0)).otherwise(
          round((lit(2.0) * col("tp"))
            / (col("n_truth") + col("n_pred")).cast("double"), 4))
          .as("f1"))
  }

  /** Near-dup pair EVIDENCE — the human-review layer over the LSH
    * pairs: for each candidate pair, the single longest ALIGNED run of
    * shared 16-shingles (the diagonal-runs trick: matching positions
    * grouped by pa−pb, gaps-and-islands within each diagonal), reported
    * as (start_a, start_b, run_len, span_chars). q_dedup_spans finds
    * shared passages corpus-wide; this anchors ON a specific pair and
    * answers "show me WHY these two were flagged" — what a reviewer or
    * an appeals pipeline consumes. Positional shingles join pair-sides
    * by (doc, shingle) equi-keys; the best run per pair is a k=1
    * bounded-heap aggregate. */
  def qDedupEvidence(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val pairs = Dedup.minhashPairs(d, K, numHashes = 64, bands = 16,
      minEst = 0.2).select(col("ida"), col("idb")).localCheckpoint()
    val ps = d.select(col("doc_id"),
      posexplode(graft.functions.ShingleHash(col("text"), K, 131L,
        1000000007L)).as(Seq("p", "s")))
      .localCheckpoint() // both pair sides read it
    val m = pairs
      .join(ps.select(col("doc_id").as("ida"), col("p").as("pa"),
        col("s")), Seq("ida"))
      .join(ps.select(col("doc_id").as("idb"), col("p").as("pb"),
        col("s")), Seq("idb", "s"))
    val diag = col("pa") - col("pb")
    val w = Window.partitionBy(col("ida"), col("idb"), diag)
      .orderBy(col("pa"))
    val runs = m
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("ida"), col("idb"), diag.as("diag"), col("grp"))
      .agg(min(col("pa")).as("start_a"), count(lit(1)).as("len"))
    val enc = col("start_a") * 1048576L + (col("start_a") - col("diag"))
    runs.groupBy("ida", "idb")
      .agg(graft.functions.TopKAgg(-col("len").cast("double"), enc, enc,
        1).as("tk"))
      .select(col("ida"), col("idb"),
        (-element_at(col("tk"), 1).getField("key")).cast("long")
          .as("run_len"),
        element_at(col("tk"), 1).getField("payload").as("e"))
      .select(col("ida"), col("idb"), col("run_len"),
        floor(col("e") / 1048576L).cast("long").as("start_a"),
        pmod(col("e"), lit(1048576L)).as("start_b"))
      .withColumn("span_chars", col("run_len") + lit(K - 1).cast("long"))
  }

  /** Deterministic batch twin of the STREAMING near-dup filter
    * (streaming.NearDupStream): per LSH bucket, one anchor (min doc id
    * in batch; first arrival in the stream) and a candidate pair for
    * every other member — the stream's state transition replayed with a
    * per-bucket aggregate, making the streaming component a first-class
    * CORRECTNESS row. */
  def qNearDupAnchor(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.NearDupStream.candidatePairsBatch(
      docs(spark, dir), K, numHashes = 64, bands = 16)

  /** Incremental dedup: docs with doc_id % 10 == 7 play the newly
    * ingested batch, everything else is the standing corpus index. */
  def qDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    Dedup.minhashDelta(
      d.filter(col("doc_id") % 10 === 7),
      d.filter(col("doc_id") % 10 =!= 7),
      K, numHashes = 64, bands = 16, minEst = 0.2)
  }

  private val SpanMaxDf = 50 // occurrence cap: stop-shingles drop out

  /** Substring-level dedup: spans of >= 1 shared 16-shingle across
    * distinct documents. */
  def qDedupSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicatedSpans(docs(spark, dir), K, SpanMaxDf)

  // ------------------------------------------- content-defined chunking

  private val CdcW = 5       // rolling-hash window (chars)
  private val CdcD = 32L     // boundary divisor -> expected chunk ~32 chars
  private val CdcP = 1000000007L
  private val FwWidth = 32L  // fixed-width strawman for the comparison

  /** FastCDC-shape content-defined chunking, shift-robustness report
    * (VERDICT r12 item 4) — the blob-store twin of q_chunk_dedup's
    * fixed-stride chunk dedup and the standard answer for 100 TB
    * snapshot storage (FastCDC, Xia et al., USENIX ATC 2016; Gear
    * rolling hash): chunk BOUNDARIES are decided by content (a window
    * hash hitting a residue), not by offset, so inserting bytes at the
    * front of a blob re-aligns only the chunks up to the first
    * boundary — every later chunk keeps its fingerprint and dedupes
    * against the store. Fixed-width chunking loses ALL of them: every
    * boundary shifts.
    *
    * This variant drops FastCDC's min/max-size clamps on purpose: the
    * pure content rule makes every boundary decision POSITION-
    * INDEPENDENT (boundary after char i iff hash(codes[i-4..i]) % D ==
    * 0), so the whole chunker is one row-local expression — no carried
    * state, no mapPartitions, embarrassingly parallel at any corpus
    * size — and the expected chunk length is still D (geometric).
    *
    * The planted stratum (every 3rd doc) pairs each blob with a
    * shifted twin (1 + doc_id % 7 prefix chars); the report measures,
    * per pair, shared-vs-new distinct fingerprints and new bytes under
    * BOTH chunkers — cdc_frac ~ (k-1)/k vs fw_frac ~ 0 is the property
    * being proven, and new-bytes is the dedup-ratio a chunk store
    * prices. Everything is exact integer arithmetic over per-char
    * code arrays plus round-4 fractions, replayed verbatim by the
    * DuckDB oracle. */
  // the window hash and the chunk fingerprint: one fold over a slice
  private def chunkFp(codes: Column, start: Column, len: Column): Column =
    fold(slice(codes, start, len), 31L, CdcP)
  // cdc edge list 0 ++ content-defined bounds ++ n over a codes array
  private def cdcEdges(codes: Column): Column = {
    val n = size(codes).cast("long")
    // guard: Spark sequence(a, b) DESCENDS when b < a (DuckDB's
    // generate_series is empty) — short blobs are one whole chunk
    val bounds = when(n - 1 >= CdcW,
      filter(sequence(lit(CdcW.toLong), n - 1),
        i => chunkFp(codes, i - (CdcW - 1), lit(CdcW)) % CdcD === 0))
      .otherwise(array().cast("array<bigint>"))
    concat(array(lit(0L)), bounds, array(n))
  }
  // chunk (fp, ln) structs from a STAGED edge attribute — edges must
  // be a column reference here, never the bounds expression itself:
  // an expression inside a lambda body re-evaluates per element, and
  // HOFs run interpreted, so an inlined boundary scan costs ~ms per
  // chunk access (measured ~50 s at sf0.1 vs ~2 s staged)
  private def pairsOf(codes: Column, edges: Column): Column =
    transform(sequence(lit(2L), size(edges).cast("long")), j => {
      val prev = element_at(edges, (j - 1).cast("int"))
      val cur = element_at(edges, j.cast("int"))
      struct(chunkFp(codes, prev + 1, cur - prev).as("fp"),
        (cur - prev).as("ln"))
    })
  private def fwPairs(codes: Column): Column = {
    val n = size(codes).cast("long")
    transform(sequence(lit(0L),
      ((n + FwWidth - 1) / FwWidth).cast("long") - 1), k =>
      struct(chunkFp(codes, k * FwWidth + 1,
        least(lit(FwWidth), n - k * FwWidth)).as("fp"),
        least(lit(FwWidth), n - k * FwWidth).as("ln")))
  }

  /** Exploded cdc chunk rows (doc_id, fp, ln) for a (doc_id, text)
    * frame — the same staged evaluation as the pair report, but the
    * barriers are one-row GENERATES (explode of a one-element array),
    * not exchanges or localCheckpoints: a generator output is a
    * genuine attribute Catalyst never substitutes a projection into,
    * so the codes/edges builds still cannot inline into downstream
    * lambda bodies (the CollapseProject per-element interpreted
    * re-eval failure mode), and the ~8x corpus text bytes of code
    * arrays now stream through ONE fused stage instead of riding two
    * full-corpus repartition exchanges to shuffle disk (r18 opt,
    * guide §2.4; q_dedup_fastcdc_delta — the only caller, twice —
    * measured 3.60 → 1.77 s isolated min-of-2 at sf0.1 together with
    * its single-pass rollup, its plan's keyed exchanges now only the
    * store distinct and the two rollup aggregates, and the timing
    * proves the generator boundary held: an inlined codes build costs
    * ~50 s here, not ~2 s). */
  private def cdcChunkRows(d: DataFrame): DataFrame = d
    .select(col("doc_id"), codes(col("text")).as("c0"))
    .select(col("doc_id"), explode(array(col("c0"))).as("c"))
    .select(col("doc_id"), col("c"),
      explode(array(cdcEdges(col("c")))).as("e"))
    .select(col("doc_id"), explode(pairsOf(col("c"), col("e"))).as("p"))
    .select(col("doc_id"), col("p").getField("fp").as("fp"),
      col("p").getField("ln").as("ln"))

  def qDedupFastCdc(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text").as("orig"),
        concat(expr("repeat('x', CAST(1 + doc_id % 7 AS INT))"),
          col("text")).as("twin"))
    def fpsOf(pairs: Column): Column =
      array_distinct(transform(pairs, p => p.getField("fp")))
    // first chunk per DISTINCT fp, in position order — matches the
    // oracle's dedup-by-fp-keep-first exactly even if one fingerprint
    // ever appeared with two lengths (mod-p polynomial collision);
    // dedup by (fp, ln) struct would diverge there. `pairs` is an
    // attribute (post-checkpoint), so the prefix re-read is cheap.
    def firstPerFp(pairs: Column): Column =
      filter(pairs, (p, i) =>
        !array_contains(
          transform(slice(pairs, lit(1), i), q => q.getField("fp")),
          p.getField("fp")))
    def report(tag: String, po: Column, pt: Column,
               fpo: Column, fpt: Column): Seq[Column] = {
      val shared = size(array_intersect(fpo, fpt)).cast("long")
      val newPairs = filter(firstPerFp(pt),
        p => !array_contains(fpo, p.getField("fp")))
      Seq(size(po).cast("long").as(s"n_$tag"),
        size(pt).cast("long").as(s"n_${tag}_twin"),
        shared.as(s"${tag}_shared"),
        round(shared.cast("double") / size(fpt).cast("double"), 4)
          .as(s"${tag}_frac"),
        aggregate(newPairs, lit(0L), (a, p) => a + p.getField("ln"))
          .as(s"${tag}_new_bytes"))
    }
    // STAGED evaluation, not one nested tree: an expression referenced
    // inside a lambda body re-evaluates PER ARRAY ELEMENT, so feeding
    // cdcPairs(...) directly into the report re-ran the whole chunker
    // (codes + boundary scan) dozens of times per row — measured 394 s
    // at sf0.1 vs ~2 s staged. Each projection below only references
    // ATTRIBUTES of the previous one, and the checkpoint materializes
    // the pair arrays once (1/3-stratum rows x ~10 structs — tiny).
    val coded = d
      .select(col("doc_id"), codes(col("orig")).as("co"),
        codes(col("twin")).as("ct"))
      // second barrier: without it CollapseProject inlines the codes
      // build into the boundary lambda = codes re-split PER POSITION
      .localCheckpoint()
    val edged = coded
      .select(col("doc_id"), col("co"), col("ct"),
        cdcEdges(col("co")).as("eo"), cdcEdges(col("ct")).as("et"))
      // third barrier: the per-chunk lambda reads the edge list twice
      // per element — it must be an attribute, not the boundary scan
      .localCheckpoint()
    val paired = edged
      .select(col("doc_id"), size(col("ct")).cast("long").as("twin_bytes"),
        pairsOf(col("co"), col("eo")).as("po"),
        pairsOf(col("ct"), col("et")).as("pt"),
        fwPairs(col("co")).as("qo"), fwPairs(col("ct")).as("qt"))
      .localCheckpoint()
    // the eager pair checkpoint holds all the result reads: the two
    // barriers before it are done
    Seq(coded, edged).foreach(Bpe.release)
    paired
      .select(col("doc_id"), col("twin_bytes"),
        col("po"), col("pt"), col("qo"), col("qt"),
        fpsOf(col("po")).as("fpo_cdc"), fpsOf(col("pt")).as("fpt_cdc"),
        fpsOf(col("qo")).as("fpo_fw"), fpsOf(col("qt")).as("fpt_fw"))
      .select(
        (col("doc_id") +:
          (report("cdc", col("po"), col("pt"),
            col("fpo_cdc"), col("fpt_cdc")) ++
            report("fw", col("qo"), col("qt"),
              col("fpo_fw"), col("fpt_fw")) :+
            col("twin_bytes"))): _*)
  }

  /** FastCDC DELTA ingest (r13) — the build/serve + delta contract
    * (Ann.ivfDeltaTopK, ER's persisted postings, componentsDelta)
    * applied to the chunk store: a 100 TB blob store does not
    * re-chunk the corpus when a batch of re-uploads lands; the BASE
    * corpus's distinct chunk fingerprints ARE the standing store, the
    * delta batch (every 3rd blob re-uploaded with a 1-7 char shift —
    * the classic "same file, new header" snapshot case) chunks
    * row-locally and equi-joins the store on fp, and each delta blob
    * prices its ingest: chunks deduplicated against the store vs new
    * fingerprints (and bytes) the store must actually absorb. Work is
    * ∝ base (one distinct) + delta (one join keyed on fp) — never
    * delta × corpus; at a real deployment the store side is the
    * persisted artifact, here built in-query like q_dedup_incremental.
    * Cross-BLOB dedup happens naturally (a delta chunk may hit any
    * blob's chunk, not just its own source), which is the thing the
    * per-pair report (q_dedup_fastcdc) cannot see. */
  def qDedupFastCdcDelta(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val store = cdcChunkRows(d.select(col("doc_id"), col("text")))
      .select("fp").distinct()
    val delta = d.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000000000L).as("doc_id"),
        concat(expr("repeat('x', CAST(1 + doc_id % 7 AS INT))"),
          col("text")).as("text"))
    // ONE pass over the joined chunk rows (r18 opt, guide §2.3/§2.4):
    // the per-blob rollup and the distinct-new rollup used to be two
    // separate consumers of a localCheckpoint (chunk+join job, two
    // aggregate jobs, then a rollup join). `hit` is functionally
    // determined by fp (the store side is DISTINCT fps), so grouping
    // by (doc_id, fp, ln, hit) first gives BOTH the distinct-triple
    // view (fresh counted distinct (doc_id, fp, ln)) and, via the
    // group size c, every per-row sum — two cascaded hash aggregates,
    // no checkpoint, no join, identical values row-for-row.
    val g1 = cdcChunkRows(delta)
      .join(store.withColumn("hit", lit(1L)), Seq("fp"), "left")
      .groupBy("doc_id", "fp", "ln", "hit")
      .agg(count(lit(1)).as("c"))
    g1.groupBy("doc_id")
      .agg(sum("c").as("n_chunks"),
        sum(col("ln") * col("c")).as("blob_bytes"),
        sum(when(col("hit").isNotNull, col("c")).otherwise(0L))
          .as("n_dedup"),
        sum(when(col("hit").isNotNull, col("ln") * col("c"))
          .otherwise(0L)).as("dedup_bytes"),
        sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_new_fp"),
        sum(when(col("hit").isNull, col("ln")).otherwise(0L))
          .as("new_bytes"))
      .select(col("doc_id"), col("n_chunks"), col("blob_bytes"),
        col("n_dedup"), col("dedup_bytes"), col("n_new_fp"),
        col("new_bytes"))
  }

  /** Cross-modal near-dup agreement (r14, VERDICT r13 item 6) — the
    * dedup-family member a multimodal (image, caption) corpus needs
    * that neither single-modality arm covers: which near-dup pairs do
    * the IMAGE arm (row 81's dHash band join) and the TEXT arm (row
    * 29's minhash band join) agree on, and which does each flag alone
    * — the curation signal that decides whether a re-captioned image
    * is a duplicate (drop) or a new caption worth keeping. The item
    * table is the doc corpus plus three planted strata proving each
    * agreement class fires for a known reason:
    *   - repost (doc_id%7==0, +1e7): same image group (+700 keeps
    *     gk AND the bump count — 700 ≡ 0 mod 4), caption + ' repost'
    *     (16-shingle jaccard stays high) → BOTH arms;
    *   - re-caption (%7==1, +2e7): same image group (+300), caption
    *     REVERSED (every 16-shingle changes) → IMAGE-ONLY;
    *   - stock-swap (%7==2, +3e7): caption + ' mirror', image from a
    *     DIFFERENT group (+50 — and identical to base doc d+50's
    *     image, the classic stock-photo reuse) → TEXT-ONLY.
    * Both kernels are the existing band-join operators (never
    * all-pairs); the agreement is ONE full outer equi-join of two
    * already-bounded pair sets, so the scale story is exactly the
    * arms'. Stratum = max(id)/1e7 keeps every pair attributable. */
  def qDedupCrossmodal(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    def stratum(mod: Int, idOff: Long, imgOff: Long,
                cap: Column): DataFrame =
      d.filter(col("doc_id") % 7 === mod)
        .select((col("doc_id") + idOff).as("item_id"),
          (col("doc_id") + imgOff).as("img"), cap.as("caption"))
    val items = d
      .select(col("doc_id").as("item_id"), col("doc_id").as("img"),
        lower(col("text")).as("caption"))
      .unionAll(stratum(0, 10000000L, 700L,
        concat(lower(col("text")), lit(" repost"))))
      .unionAll(stratum(1, 20000000L, 300L, reverse(lower(col("text")))))
      .unionAll(stratum(2, 30000000L, 50L,
        concat(lower(col("text")), lit(" mirror"))))
      .localCheckpoint() // both arms scan it
    val img = graft.operators.ImageHash.dhashPairsOfSigs(
      graft.operators.ImageHash.imageSignaturesItems(items),
      maxHamming = 10)
    val txt = Dedup.minhashPairs(
      items.select(col("item_id").as("doc_id"),
        col("caption").as("text")),
      K, numHashes = 64, bands = 16, minEst = 0.2)
    img.select(col("ida"), col("idb"), col("hamming"),
        lit(true).as("ih"))
      .join(txt.select(col("ida"), col("idb"), col("est"),
        lit(true).as("th")), Seq("ida", "idb"), "full")
      .select(col("ida"), col("idb"),
        coalesce(col("ih"), lit(false)).as("image_hit"),
        coalesce(col("th"), lit(false)).as("text_hit"),
        when(col("ih").isNotNull && col("th").isNotNull, "both")
          .when(col("ih").isNotNull, "image_only")
          .otherwise("text_only").as("agreement"),
        expr("greatest(ida, idb) div 10000000").as("stratum"),
        coalesce(col("hamming"), lit(-1L)).as("hamming"),
        coalesce(col("est"), lit(-1.0)).as("est"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_crossmodal" -> (qDedupCrossmodal _),
    "q_dedup_fastcdc" -> (qDedupFastCdc _),
    "q_dedup_fastcdc_delta" -> (qDedupFastCdcDelta _),
    "q_dedup_incremental" -> (qDedupIncremental _),
    "q_dedup_spans" -> (qDedupSpans _),
    "q_dedup_ngram_jaccard" -> (qNgramJaccard _),
    "q_dedup_containment" -> (qDedupContainment _),
    "q_dedup_keep_best" -> (qDedupKeepBest _),
    "q_split_dedup_aware" -> (qSplitDedupAware _),
    "q_dedup_cc" -> (qDedupCc _),
    "q_dedup_cc_delta" -> (qDedupCcDelta _),
    "q_dedup_minhash" -> (qMinhash _),
    "q_dedup_simhash" -> (qSimhash _),
    "q_dedup_clusters" -> (qDedupClusters _),
    "q_neardup_anchor" -> (qNearDupAnchor _),
    "q_decontaminate" -> (qDecontaminate _),
    "q_decontaminate_bloom" -> (qDecontaminateBloom _),
    "q_triangle_count" -> (qTriangleCount _),
    "q_dedup_eval" -> (qDedupEval _),
    "q_dedup_evidence" -> (qDedupEvidence _))

  /** Shared band-hash CTE prefix (through `bands`): the DuckDB twin of
    * the engine's minhash signature + LSH band fold — same rolling
    * shingle hash, same universal-hash coefficients (note `|1` / exact
    * integer arithmetic), same band fold. Used by the pair, cluster AND
    * bucket-anchor oracles, so the replayed LSH path is written once. */
  private val minhashBandCtes: String = minhashBandCtesOn("")

  /** Same CTE prefix over a filtered documents slice (the eval harness
    * replays the LSH path on its sample). */
  private def minhashBandCtesOn(where: String): String =
    s"""d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, lower(text) AS t
       |           FROM documents $where),
       |${minhashBandCtesSrc("d")}""".stripMargin

  /** Band CTEs over an arbitrary (doc_id, t) source CTE — the
    * cross-modal query feeds item captions instead of `documents`. */
  private def minhashBandCtesSrc(src: String): String = {
    val P = 2147483647L
    s"""shh AS (SELECT DISTINCT doc_id, s AS hp
       |        FROM (${TextSql.shingles(src, K, 31, P)})),
       |coefs AS (SELECT CAST(i AS BIGINT) AS i,
       |            ((i * 2654435761 + 1) % $P) | 1 AS a,
       |            (i * 40503 * 104729 + 12345) % $P AS b
       |          FROM (SELECT unnest(generate_series(0, 63)) AS i) g),
       |mins AS (SELECT doc_id, i, MIN((a * hp + b) % $P) AS m
       |         FROM shh, coefs GROUP BY 1, 2),
       |bands AS (SELECT doc_id, i // 4 AS band,
       |            ${TextSql.fold("list(m ORDER BY i)", 33, P)} AS bh
       |          FROM mins GROUP BY doc_id, i // 4)""".stripMargin
  }

  /** Full minhash-pair oracle: band CTEs + candidate join + signature
    * agreement — the full LSH path hash-checked, not just row-counted. */
  /** Candidate + signature-agreement CTEs (follow the band CTEs). */
  private val minhashPairCtes: String =
    """cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
      |         FROM bands a JOIN bands b
      |           ON a.band = b.band AND a.bh = b.bh
      |          AND a.doc_id < b.doc_id),
      |est AS (SELECT ida, idb,
      |          ROUND(SUM(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END)
      |              / 64.0, 4) AS est
      |        FROM cand
      |        JOIN mins ma ON ma.doc_id = ida
      |        JOIN mins mb ON mb.doc_id = idb AND mb.i = ma.i
      |        GROUP BY 1, 2)""".stripMargin

  private val minhashOracle: String =
    s"""WITH $minhashBandCtes,
       |$minhashPairCtes
       |SELECT ida, idb, est FROM est WHERE est >= 0.2""".stripMargin

  /** Mirrors Dedup.dedupClusters' exact 3-iteration min-label recurrence
    * over the minhash pair graph (per hop, each node's MIN label over its
    * neighbors and itself, written as a UNION ALL), then the left join
    * back to all docs. */
  private val clustersOracle: String = {
    def hop(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT node, MIN(label) AS label FROM (
         |    SELECT node, label FROM $prev
         |    UNION ALL
         |    SELECT e.dst AS node, p.label FROM e JOIN $prev p
         |      ON p.node = e.src)
         |  GROUP BY node)""".stripMargin
    s"""WITH pairs AS ($minhashOracle),
       |e AS (SELECT ida AS src, idb AS dst FROM pairs
       |      UNION ALL SELECT idb, ida FROM pairs),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
       |${hop("l0", "l1")},
       |${hop("l1", "l2")},
       |${hop("l2", "l3")}
       |SELECT d.doc_id,
       |  COALESCE(l3.label, d.doc_id) AS canonical_id,
       |  d.doc_id <> COALESCE(l3.label, d.doc_id) AS is_dup
       |FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents) d
       |LEFT JOIN l3 ON l3.node = d.doc_id""".stripMargin
  }

  /** DuckDB twin of the 60-bit simhash band pipeline (same double
    * rolling hash, bit sums, band split, Hamming verification). */
  private val simhashOracle: String = {
    val P = 2147483647L
    s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |             lower(trim(text)) AS t FROM documents),
       |toks AS (
       |  SELECT doc_id, w,
       |    ${TextSql.fp("w", 31, P)} * 2654435761 % $P AS h1,
       |    ${TextSql.fp("w", 37, P)} * 2654435761 % $P AS h2
       |  FROM d, LATERAL (SELECT unnest(regexp_split_to_array(t, '\\s+'))
       |                   AS w) u
       |  WHERE len(w) > 0),
       |bits AS (
       |  SELECT doc_id, CAST(j AS BIGINT) AS j,
       |    SUM(CASE WHEN (((CASE WHEN j < 30 THEN h1 ELSE h2 END)
       |          >> CAST(j % 30 AS INT)) & 1) = 1 THEN 1 ELSE -1 END) AS s
       |  FROM toks, (SELECT unnest(generate_series(0, 59)) AS j) g
       |  GROUP BY 1, 2),
       |sig AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN s > 0 THEN CAST(POWER(2, j) AS BIGINT)
       |             ELSE 0 END) AS BIGINT) AS sig
       |  FROM bits GROUP BY 1),
       |bands AS (
       |  SELECT doc_id, sig, b AS band, (sig >> CAST(b * 15 AS INT)) & 32767
       |    AS bv
       |  FROM sig, (SELECT unnest(generate_series(0, 3)) AS b) g),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb,
       |    a.sig AS siga, b.sig AS sigb
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT ida, idb,
       |  CAST(bit_count(xor(siga, sigb)) AS BIGINT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(siga, sigb)) <= 6""".stripMargin
  }

  /** The FastCDC oracle replays the full chunker in DuckDB list
    * algebra: same char-code arrays, same window-hash boundary rule,
    * same per-chunk polynomial fingerprints, same distinct-fp set
    * arithmetic — nothing about the engine is trusted. */
  // chunk (fp, ln) structs from an edge list over a codes array (SQL)
  private def cdcPairsSql(codes: String, edges: String): String = {
    def e(j: String) = s"$edges[CAST($j AS INT)]"
    s"""list_transform(generate_series(CAST(2 AS BIGINT), len($edges)),
       |  j -> struct_pack(
       |    fp := ${TextSql.fold(
         s"$codes[CAST(${e("j-1")}+1 AS INT):CAST(${e("j")} AS INT)]",
         31, CdcP)},
       |    ln := ${e("j")} - ${e("j-1")}))""".stripMargin
  }
  private def cdcBoundsSql(codes: String): String =
    s"""list_filter(generate_series(CAST($CdcW AS BIGINT), len($codes) - 1),
       |  i -> ${TextSql.fold(
         s"$codes[CAST(i AS INT)-${CdcW - 1}:CAST(i AS INT)]", 31, CdcP)}
       |    % $CdcD = 0)""".stripMargin
  /** SQL CTE chain `<pfx>c/<pfx>e/<pfx>p` producing exploded chunk rows
    * (doc_id, fp, ln) for a blob CTE `src(doc_id, text)`. */
  private def cdcChunkRowsSql(pfx: String, src: String): String =
    s"""${pfx}c AS (SELECT doc_id, ${TextSql.codes("text")} AS c FROM $src),
       |${pfx}e AS (SELECT doc_id, c,
       |  list_concat(list_concat([CAST(0 AS BIGINT)], ${cdcBoundsSql("c")}),
       |    [CAST(len(c) AS BIGINT)]) AS e
       |  FROM ${pfx}c),
       |${pfx}u AS (SELECT doc_id, unnest(${cdcPairsSql("c", "e")}) AS p
       |  FROM ${pfx}e),
       |${pfx}p AS (SELECT doc_id, p.fp AS fp, p.ln AS ln FROM ${pfx}u)"""
      .stripMargin

  private val fastCdcOracle: String = {
    def fwEdgesSql(codes: String): String =
      s"""list_concat(list_transform(
         |  generate_series(CAST(0 AS BIGINT), (len($codes) + ${FwWidth - 1})
         |    // $FwWidth - 1),
         |  k -> k * $FwWidth), [CAST(len($codes) AS BIGINT)])""".stripMargin
    def reportSql(tag: String, po: String, pt: String): String =
      s"""len($po) AS n_$tag, len($pt) AS n_${tag}_twin,
         |  len(list_intersect(list_distinct(list_transform($po, p -> p.fp)),
         |      list_distinct(list_transform($pt, p -> p.fp)))) AS ${tag}_shared,
         |  ROUND(CAST(len(list_intersect(
         |      list_distinct(list_transform($po, p -> p.fp)),
         |      list_distinct(list_transform($pt, p -> p.fp)))) AS DOUBLE)
         |    / CAST(len(list_distinct(list_transform($pt, p -> p.fp)))
         |      AS DOUBLE), 4) AS ${tag}_frac,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
         |      list_filter(list_distinct(list_transform($pt, p -> p.fp)),
         |        f -> NOT list_contains(
         |          list_distinct(list_transform($po, q -> q.fp)), f)),
         |      f -> $pt[list_position(list_transform($pt, p -> p.fp), f)].ln)),
         |    (a, b) -> a + b) AS ${tag}_new_bytes"""
        .stripMargin
    s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text
       |           FROM documents WHERE doc_id % 3 = 0),
       |t AS (SELECT doc_id, text AS orig,
       |        repeat('x', CAST(1 + doc_id % 7 AS INT)) || text AS twin
       |      FROM d),
       |c AS (SELECT doc_id, ${TextSql.codes("orig")} AS co,
       |  ${TextSql.codes("twin")} AS ct FROM t),
       |e AS (SELECT doc_id, co, ct,
       |  list_concat(list_concat([CAST(0 AS BIGINT)], ${cdcBoundsSql("co")}),
       |    [CAST(len(co) AS BIGINT)]) AS eo,
       |  list_concat(list_concat([CAST(0 AS BIGINT)], ${cdcBoundsSql("ct")}),
       |    [CAST(len(ct) AS BIGINT)]) AS et,
       |  ${fwEdgesSql("co")} AS fo,
       |  ${fwEdgesSql("ct")} AS ft
       |  FROM c),
       |f AS (SELECT doc_id, len(ct) AS twin_bytes,
       |  ${cdcPairsSql("co", "eo")} AS po, ${cdcPairsSql("ct", "et")} AS pt,
       |  ${cdcPairsSql("co", "fo")} AS qo, ${cdcPairsSql("ct", "ft")} AS qt
       |  FROM e)
       |SELECT doc_id, ${reportSql("cdc", "po", "pt")},
       |  ${reportSql("fw", "qo", "qt")},
       |  CAST(twin_bytes AS BIGINT) AS twin_bytes
       |FROM f""".stripMargin
  }

  /** Delta-ingest oracle: full replay — base chunk store as DISTINCT
    * fps over the whole corpus, delta twins re-chunked, per-blob
    * dedup/new rollups joined back. */
  private val fastCdcDeltaOracle: String =
    s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text
       |           FROM documents),
       |delta AS (SELECT doc_id + 1000000000 AS doc_id,
       |            repeat('x', CAST(1 + doc_id % 7 AS INT)) || text AS text
       |          FROM d WHERE doc_id % 3 = 0),
       |${cdcChunkRowsSql("b", "d")},
       |store AS (SELECT DISTINCT fp FROM bp),
       |${cdcChunkRowsSql("t", "delta")},
       |j AS (SELECT tp.doc_id, tp.fp, tp.ln, s.fp IS NOT NULL AS hit
       |      FROM tp LEFT JOIN store s ON s.fp = tp.fp),
       |tot AS (SELECT doc_id, COUNT(*) AS n_chunks, SUM(ln) AS blob_bytes,
       |          SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS n_dedup,
       |          SUM(CASE WHEN hit THEN ln ELSE 0 END) AS dedup_bytes
       |        FROM j GROUP BY 1),
       |fr AS (SELECT doc_id, COUNT(*) AS n_new_fp, SUM(ln) AS new_bytes
       |       FROM (SELECT DISTINCT doc_id, fp, ln FROM j WHERE NOT hit)
       |       GROUP BY 1)
       |SELECT tot.doc_id, CAST(tot.n_chunks AS BIGINT) AS n_chunks,
       |  CAST(tot.blob_bytes AS BIGINT) AS blob_bytes,
       |  CAST(tot.n_dedup AS BIGINT) AS n_dedup,
       |  CAST(tot.dedup_bytes AS BIGINT) AS dedup_bytes,
       |  CAST(COALESCE(fr.n_new_fp, 0) AS BIGINT) AS n_new_fp,
       |  CAST(COALESCE(fr.new_bytes, 0) AS BIGINT) AS new_bytes
       |FROM tot LEFT JOIN fr ON fr.doc_id = tot.doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_dedup_fastcdc" -> fastCdcOracle,
    "q_dedup_fastcdc_delta" -> fastCdcDeltaOracle,
    "q_dedup_minhash" -> minhashOracle,

    // both arms replayed over the planted item table: the dHash chain
    // (SourceQueries.imageSigCtesOn — pixels from `img`, keys from
    // item id) and the minhash chain (band CTEs over the caption
    // source), then the same full-outer agreement join
    "q_dedup_crossmodal" ->
      s"""WITH items AS (
         |  SELECT CAST(doc_id AS BIGINT) AS item_id,
         |    CAST(doc_id AS BIGINT) AS img, lower(text) AS t
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000000, doc_id + 700, lower(text) || ' repost'
         |  FROM documents WHERE doc_id % 7 = 0
         |  UNION ALL
         |  SELECT doc_id + 20000000, doc_id + 300, reverse(lower(text))
         |  FROM documents WHERE doc_id % 7 = 1
         |  UNION ALL
         |  SELECT doc_id + 30000000, doc_id + 50, lower(text) || ' mirror'
         |  FROM documents WHERE doc_id % 7 = 2),
         |${graft.queries.SourceQueries.imageSigCtesOn(
              "SELECT item_id AS doc_id, img FROM items")},
         |ip AS (SELECT ida, idb,
         |         CAST(bit_count(xor(siga, sigb)) AS BIGINT) AS hamming
         |       FROM pr WHERE bit_count(xor(siga, sigb)) <= 10),
         |caps AS (SELECT item_id AS doc_id, t FROM items),
         |${minhashBandCtesSrc("caps")},
         |$minhashPairCtes,
         |tp AS (SELECT ida, idb, est FROM est WHERE est >= 0.2)
         |SELECT COALESCE(ip.ida, tp.ida) AS ida,
         |  COALESCE(ip.idb, tp.idb) AS idb,
         |  ip.ida IS NOT NULL AS image_hit,
         |  tp.ida IS NOT NULL AS text_hit,
         |  CASE WHEN ip.ida IS NOT NULL AND tp.ida IS NOT NULL
         |         THEN 'both'
         |       WHEN ip.ida IS NOT NULL THEN 'image_only'
         |       ELSE 'text_only' END AS agreement,
         |  CAST(greatest(COALESCE(ip.ida, tp.ida),
         |    COALESCE(ip.idb, tp.idb)) // 10000000 AS BIGINT) AS stratum,
         |  COALESCE(ip.hamming, -1) AS hamming,
         |  COALESCE(tp.est, -1.0) AS est
         |FROM ip FULL JOIN tp
         |  ON ip.ida = tp.ida AND ip.idb = tp.idb""".stripMargin,

    // the LSH path replayed ON THE SAMPLE (band CTEs parameterized by
    // the sample filter), exact Jaccard truth from the same shingle
    // hashes, metrics over integer counts
    "q_dedup_eval" ->
      s"""WITH ${minhashBandCtesOn("WHERE doc_id % 2 = 0")},
         |$minhashPairCtes,
         |pred AS (SELECT ida, idb, est FROM est WHERE est >= 0.2),
         |ssh AS (SELECT DISTINCT doc_id, hp FROM shh),
         |na AS (SELECT doc_id, COUNT(*) AS n FROM ssh GROUP BY 1),
         |tr AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
         |         COUNT(*) AS shared
         |       FROM ssh a JOIN ssh b
         |         ON a.hp = b.hp AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |truth AS (SELECT tr.ida, tr.idb,
         |            ROUND(CAST(tr.shared AS DOUBLE)
         |              / CAST(x.n + y.n - tr.shared AS DOUBLE), 4) AS jac
         |          FROM tr JOIN na x ON x.doc_id = tr.ida
         |          JOIN na y ON y.doc_id = tr.idb),
         |j AS (SELECT COALESCE(t.jac, 0.0) AS jac,
         |        COALESCE(p.est, -1.0) AS est
         |      FROM truth t FULL OUTER JOIN pred p
         |        ON p.ida = t.ida AND p.idb = t.idb),
         |th AS (SELECT CAST(t AS DOUBLE) AS t
         |       FROM (VALUES (0.2), (0.35), (0.5)) v(t)),
         |m AS (SELECT t,
         |        SUM(CASE WHEN jac >= t THEN 1 ELSE 0 END) AS n_truth,
         |        SUM(CASE WHEN est >= t THEN 1 ELSE 0 END) AS n_pred,
         |        SUM(CASE WHEN jac >= t AND est >= t THEN 1 ELSE 0 END)
         |          AS tp
         |      FROM j, th GROUP BY t)
         |SELECT t, CAST(n_truth AS BIGINT) AS n_truth,
         |  CAST(n_pred AS BIGINT) AS n_pred, CAST(tp AS BIGINT) AS tp,
         |  CAST(n_pred - tp AS BIGINT) AS fp,
         |  CAST(n_truth - tp AS BIGINT) AS fn,
         |  CASE WHEN n_pred = 0 THEN 0.0
         |       ELSE ROUND(CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE),
         |                  4) END AS precision,
         |  CASE WHEN n_truth = 0 THEN 0.0
         |       ELSE ROUND(CAST(tp AS DOUBLE) / CAST(n_truth AS DOUBLE),
         |                  4) END AS recall,
         |  CASE WHEN n_truth + n_pred = 0 THEN 0.0
         |       ELSE ROUND(CAST(2 AS DOUBLE) * tp
         |              / CAST(n_truth + n_pred AS DOUBLE), 4) END AS f1
         |FROM m""".stripMargin,

    // pair evidence: positional (not distinct) shingles, diagonal runs
    // via gaps-and-islands, best by (len desc, start_a, start_b) — the
    // engine's k=1 heap tie encode replayed as a rank window
    "q_dedup_evidence" ->
      s"""WITH $minhashBandCtes,
         |$minhashPairCtes,
         |pairs AS (SELECT ida, idb FROM est WHERE est >= 0.2),
         |ps AS (SELECT doc_id, pos AS p, s
         |       FROM (${TextSql.shingles("d", K, 131)})),
         |m AS (SELECT pr.ida, pr.idb, a.p AS pa, b.p AS pb
         |      FROM pairs pr
         |      JOIN ps a ON a.doc_id = pr.ida
         |      JOIN ps b ON b.doc_id = pr.idb AND b.s = a.s),
         |r AS (SELECT ida, idb, pa - pb AS diag, pa,
         |        pa - ROW_NUMBER() OVER (PARTITION BY ida, idb, pa - pb
         |          ORDER BY pa) AS grp
         |      FROM m),
         |runs AS (SELECT ida, idb, diag, grp, MIN(pa) AS start_a,
         |           COUNT(*) AS len
         |         FROM r GROUP BY 1, 2, 3, 4),
         |best AS (SELECT ida, idb, len, start_a,
         |           start_a - diag AS start_b,
         |           ROW_NUMBER() OVER (PARTITION BY ida, idb
         |             ORDER BY len DESC, start_a, start_a - diag) AS rn
         |         FROM runs)
         |SELECT ida, idb, CAST(len AS BIGINT) AS run_len,
         |  CAST(start_a AS BIGINT) AS start_a,
         |  CAST(start_b AS BIGINT) AS start_b,
         |  CAST(len + ${K - 1} AS BIGINT) AS span_chars
         |FROM best WHERE rn = 1""".stripMargin,

    // triangle enumeration in its simplest exact form — e(a,b) e(b,c)
    // e(a,c) with a<b<c (each edge stored once, low id first), an
    // INDEPENDENT derivation of what the engine finds via degree
    // orientation; per-vertex counts by exploding the triangle list
    "q_triangle_count" ->
      s"""WITH pairs AS ($minhashOracle),
         |e AS (SELECT DISTINCT ida AS a, idb AS b FROM pairs),
         |deg AS (SELECT id, COUNT(*) AS degree FROM (
         |          SELECT a AS id FROM e
         |          UNION ALL SELECT b FROM e) GROUP BY 1),
         |t AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
         |      FROM e e1
         |      JOIN e e2 ON e2.a = e1.b
         |      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |tp AS (SELECT id, COUNT(*) AS n_tri FROM (
         |         SELECT u AS id FROM t
         |         UNION ALL SELECT v FROM t
         |         UNION ALL SELECT w FROM t) GROUP BY 1)
         |SELECT deg.id, deg.degree,
         |  CAST(COALESCE(tp.n_tri, 0) AS BIGINT) AS n_tri,
         |  CASE WHEN deg.degree < 2 THEN 0.0
         |       ELSE ROUND((CAST(2 AS DOUBLE) * COALESCE(tp.n_tri, 0))
         |         / CAST(deg.degree * (deg.degree - 1) AS DOUBLE), 4)
         |  END AS clustering
         |FROM deg LEFT JOIN tp USING (id)""".stripMargin,

    // duplicated spans: per-position shingle hashes, cross-doc shingles
    // via min!=max, gaps-and-islands merge of consecutive positions
    "q_dedup_spans" ->
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |             lower(text) AS t FROM documents),
         |sh AS (SELECT doc_id, pos, s
         |       FROM (${TextSql.shingles("d", K, 131)})),
         |dup AS (SELECT s FROM sh GROUP BY s
         |        HAVING MIN(doc_id) <> MAX(doc_id)
         |           AND COUNT(*) <= $SpanMaxDf),
         |f AS (SELECT sh.doc_id, sh.pos FROM sh JOIN dup USING (s)),
         |g AS (SELECT doc_id, pos,
         |        pos - ROW_NUMBER() OVER (PARTITION BY doc_id
         |          ORDER BY pos) AS grp
         |      FROM f)
         |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
         |  CAST(MAX(pos) + $K AS BIGINT) AS span_end,
         |  CAST(MAX(pos) + $K - MIN(pos) AS BIGINT) AS span_len,
         |  COUNT(*) AS n_shingles
         |FROM g GROUP BY doc_id, grp""".stripMargin,

    // incremental dedup: same band CTEs, asymmetric delta-vs-index
    // candidate join, signature-agreement estimate, best match per
    // delta doc (est desc, index id asc), unmatched -> (-1, 0.0)
    "q_dedup_incremental" ->
      s"""WITH $minhashBandCtes,
         |cand AS (SELECT DISTINCT a.doc_id AS nid, b.doc_id AS iid
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bh = b.bh
         |         WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7),
         |est AS (SELECT nid, iid,
         |          SUM(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END)
         |            / 64.0 AS est
         |        FROM cand
         |        JOIN mins ma ON ma.doc_id = nid
         |        JOIN mins mb ON mb.doc_id = iid AND mb.i = ma.i
         |        GROUP BY 1, 2
         |        HAVING SUM(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END)
         |            / 64.0 >= 0.2),
         |best AS (SELECT nid, iid, est,
         |           ROW_NUMBER() OVER (PARTITION BY nid
         |             ORDER BY est DESC, iid ASC) AS rn
         |         FROM est),
         |alln AS (SELECT DISTINCT doc_id AS nid FROM mins
         |         WHERE doc_id % 10 = 7)
         |SELECT a.nid AS doc_id,
         |  COALESCE(b.iid, -1) AS matched_id,
         |  COALESCE(ROUND(b.est, 4), 0.0) AS est,
         |  b.nid IS NOT NULL AS is_dup
         |FROM alln a
         |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.nid = a.nid"""
        .stripMargin,

    // streaming near-dup filter's batch twin: same band CTEs, then the
    // bucket-anchor (min id) state transition as one aggregate + join
    "q_neardup_anchor" ->
      s"""WITH $minhashBandCtes,
         |anch AS (SELECT band, bh, MIN(doc_id) AS anchor_id,
         |           COUNT(*) AS n
         |         FROM bands GROUP BY 1, 2)
         |SELECT CAST(b.band AS BIGINT) AS band, b.bh, a.anchor_id,
         |  b.doc_id
         |FROM bands b JOIN anch a ON b.band = a.band AND b.bh = a.bh
         |WHERE a.n >= 2 AND b.doc_id <> a.anchor_id""".stripMargin,
    "q_dedup_clusters" -> clustersOracle,
    // the large-star/small-star twin must produce IDENTICAL components
    "q_dedup_cc" -> clustersOracle,
    // incremental merge must land exactly where a from-scratch build does
    "q_dedup_cc_delta" -> clustersOracle,
    // dedup-aware split replay: cluster recurrence + canonical-keyed
    // split + BOTH leak audits (cluster-keyed = 0, doc-keyed
    // counterfactual > 0)
    "q_split_dedup_aware" -> {
      s"""WITH cl AS ($clustersOracle),
         |prs AS ($minhashOracle),
         |ch AS (SELECT CAST(doc_id AS BIGINT) AS did,
         |         ${TextSql.fp(TextSql.norm("text"))} AS chv
         |       FROM documents),
         |asg AS (SELECT cl.doc_id, cl.canonical_id AS cluster_id,
         |          CASE WHEN ch.chv % 10 < 8 THEN 'train'
         |               WHEN ch.chv % 10 = 8 THEN 'val'
         |               ELSE 'test' END AS split
         |        FROM cl JOIN ch ON ch.did = cl.canonical_id),
         |dks AS (SELECT did AS doc_id,
         |          CASE WHEN chv % 10 < 8 THEN 'train'
         |               WHEN chv % 10 = 8 THEN 'val'
         |               ELSE 'test' END AS split
         |        FROM ch),
         |lk AS (SELECT CAST(SUM(CASE WHEN a.split <> b.split
         |          THEN 1 ELSE 0 END) AS BIGINT) AS leaked_pairs
         |       FROM prs p JOIN asg a ON a.doc_id = p.ida
         |       JOIN asg b ON b.doc_id = p.idb),
         |dk AS (SELECT CAST(SUM(CASE WHEN a.split <> b.split
         |          THEN 1 ELSE 0 END) AS BIGINT) AS dockeyed_leaked
         |       FROM prs p JOIN dks a ON a.doc_id = p.ida
         |       JOIN dks b ON b.doc_id = p.idb)
         |SELECT asg.doc_id, asg.cluster_id, asg.split,
         |  lk.leaked_pairs, dk.dockeyed_leaked
         |FROM asg, lk, dk""".stripMargin
    },
    // keep-best replay: the full cluster recurrence as a CTE, the
    // row-86 integer quality score, winner by (quality desc, doc_id)
    "q_dedup_keep_best" ->
      s"""WITH cl AS ($clustersOracle),
         |qq AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |         CASE WHEN len(trim(text)) = 0 THEN 0
         |              ELSE len(regexp_split_to_array(trim(text),
         |                '\\s+')) END AS nw,
         |         len(regexp_extract_all(${TextSql.norm("text")},
         |           '\\b(the|and|of|is|a)\\b')) AS ns
         |       FROM documents),
         |q AS (SELECT doc_id, CASE WHEN nw = 0 THEN -1
         |        ELSE (ns * 10000) // nw END AS quality FROM qq),
         |r AS (SELECT cl.doc_id, cl.canonical_id AS cluster_id,
         |        q.quality
         |      FROM cl JOIN q USING (doc_id)),
         |b AS (SELECT r.*, ROW_NUMBER() OVER (PARTITION BY cluster_id
         |        ORDER BY quality DESC, doc_id) AS rn FROM r),
         |k AS (SELECT cluster_id, doc_id AS kept_id FROM b
         |      WHERE rn = 1)
         |SELECT r.doc_id, r.cluster_id, r.quality, k.kept_id,
         |  r.doc_id = k.kept_id AS keep
         |FROM r JOIN k USING (cluster_id)""".stripMargin,
    "q_dedup_simhash" -> simhashOracle,
    "q_dedup_ngram_jaccard" ->
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, lower(text) AS t
         |           FROM documents),
         |sh AS (SELECT DISTINCT doc_id, s
         |       FROM (${TextSql.shingles("d", K, 131)})),
         |rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= $MaxDf),
         |shr AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shr GROUP BY doc_id),
         |shared AS (
         |  SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS shared
         |  FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT ida, idb, shared, na.n AS na, nb.n AS nb,
         |  ROUND(CAST(shared AS DOUBLE)
         |      / CAST(na.n + nb.n - shared AS DOUBLE), 4) AS jac
         |FROM shared
         |JOIN sizes na ON na.doc_id = ida
         |JOIN sizes nb ON nb.doc_id = idb
         |WHERE ROUND(CAST(shared AS DOUBLE)
         |      / CAST(na.n + nb.n - shared AS DOUBLE), 4) >= $MinJac""".stripMargin,

    // containment replay over corpus + planted fragments: same rare-
    // shingle postings as the jaccard oracle, directed containments,
    // contained side = the higher score (ties to ida)
    "q_dedup_containment" ->
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |             lower(text) AS t FROM documents
         |           UNION ALL
         |           SELECT CAST(doc_id AS BIGINT) + 1000000,
         |             lower(substr(text, len(text) // 4 + 1,
         |               len(text) // 2))
         |           FROM documents WHERE doc_id % 4 = 0),
         |sh AS (SELECT DISTINCT doc_id, s
         |       FROM (${TextSql.shingles("d", K, 131)})),
         |rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= $MaxDf),
         |shr AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shr GROUP BY doc_id),
         |shared AS (
         |  SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS shared
         |  FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sc AS (SELECT ida, idb, shared, na.n AS na, nb.n AS nb,
         |         ROUND(CAST(shared AS DOUBLE) / CAST(na.n AS DOUBLE), 4)
         |           AS cont_a,
         |         ROUND(CAST(shared AS DOUBLE) / CAST(nb.n AS DOUBLE), 4)
         |           AS cont_b
         |       FROM shared
         |       JOIN sizes na ON na.doc_id = ida
         |       JOIN sizes nb ON nb.doc_id = idb)
         |SELECT ida, idb, shared, na, nb, cont_a, cont_b,
         |  CASE WHEN cont_a >= cont_b THEN ida ELSE idb END AS inner_id
         |FROM sc WHERE GREATEST(cont_a, cont_b) >= 0.8""".stripMargin,

    "q_decontaminate" ->
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |             lower(text) AS t, source FROM documents),
         |sh AS (SELECT DISTINCT doc_id, source, s
         |       FROM (${TextSql.shingles("d", K, 131)})),
         |cor AS (SELECT doc_id, s FROM sh WHERE source <> 'src0'),
         |ben AS (SELECT DISTINCT s FROM sh WHERE source = 'src0'),
         |tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM cor GROUP BY 1),
         |hit AS (SELECT cor.doc_id, COUNT(*) AS h
         |        FROM cor JOIN ben USING (s) GROUP BY 1)
         |SELECT t.doc_id,
         |  CAST(t.n_shingles AS BIGINT) AS n_shingles,
         |  CAST(COALESCE(hit.h, 0) AS BIGINT) AS n_hits,
         |  ROUND(CAST(COALESCE(hit.h, 0) AS DOUBLE)
         |      / CAST(t.n_shingles AS DOUBLE), 4) AS ratio,
         |  ROUND(CAST(COALESCE(hit.h, 0) AS DOUBLE)
         |      / CAST(t.n_shingles AS DOUBLE), 4) >= 0.2 AS flagged
         |FROM tot t LEFT JOIN hit ON hit.doc_id = t.doc_id""".stripMargin,

    // bloom membership replayed as POSITION-SET containment: bit p of
    // the packed filter is set iff some benchmark probe lands on p, so
    // "all 4 probe rows join the position set" IS the packed-word test
    // (collisions inflate both sides identically: 4 joined rows <=>
    // every probe position present)
    "q_decontaminate_bloom" ->
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |             lower(text) AS t, source FROM documents),
         |sh AS (SELECT DISTINCT doc_id, source, s
         |       FROM (${TextSql.shingles("d", K, 131)})),
         |cor AS (SELECT doc_id, s FROM sh WHERE source <> 'src0'),
         |ben AS (SELECT DISTINCT s FROM sh WHERE source = 'src0'),
         |pos AS (SELECT DISTINCT ${TextSql.bloomPos("s", 1048576)} AS p
         |        FROM ben, ${TextSql.bloomHashes}),
         |cp AS (SELECT doc_id, s, ${TextSql.bloomPos("s", 1048576)} AS p
         |       FROM cor, ${TextSql.bloomHashes}),
         |pass AS (SELECT doc_id, s FROM cp JOIN pos USING (p)
         |         GROUP BY doc_id, s HAVING COUNT(*) = 4),
         |tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM cor
         |        GROUP BY 1),
         |bp AS (SELECT doc_id, COUNT(*) AS nbp FROM pass GROUP BY 1),
         |hit AS (SELECT pass.doc_id, COUNT(*) AS h
         |        FROM pass JOIN ben USING (s) GROUP BY 1)
         |SELECT t.doc_id, t.n_shingles,
         |  CAST(COALESCE(bp.nbp, 0) AS BIGINT) AS n_bloom_pass,
         |  CAST(COALESCE(hit.h, 0) AS BIGINT) AS n_hits,
         |  CAST(COALESCE(bp.nbp, 0) - COALESCE(hit.h, 0) AS BIGINT)
         |    AS n_false_pos,
         |  ROUND(CAST(COALESCE(hit.h, 0) AS DOUBLE)
         |      / CAST(t.n_shingles AS DOUBLE), 4) AS ratio,
         |  ROUND(CAST(COALESCE(hit.h, 0) AS DOUBLE)
         |      / CAST(t.n_shingles AS DOUBLE), 4) >= 0.2 AS flagged
         |FROM tot t LEFT JOIN bp ON bp.doc_id = t.doc_id
         |LEFT JOIN hit ON hit.doc_id = t.doc_id""".stripMargin)
}
