package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Ann, Lloyd}
import graft.sources.Artifacts

/** ANN queries over the embeddings table (SURVEY.md §2 rows 32-33).
  * Query set = every 50th vector. Brute-force top-k has a full SQL oracle;
  * the LSH variant is rows-only (hyperplane literals are engine-side).
  */
object AnnQueries {

  private val K = 10
  private val QueryMod = 50

  /** FIXED query panel (r13): every ANN/recall/mining row probes with
    * vec_id % 50 == 0 AND vec_id < 2000 — the second clause is the
    * decade probe's lesson (the r11 scale-check bloom rule applied to
    * the whole family): a recall monitor or hard-negative miner whose
    * query panel grows WITH the corpus turns its exact-truth side into
    * an n² sweep (measured 14.5x and 24.5x at 10x data). Production
    * panels are fixed samples — the corpus grows, the panel doesn't.
    * The cap covers every shipped sf's full id range (max vec_id 1999
    * at sf0.1), so committed behavior and every oracle hash are
    * unchanged at test scales; only genuinely larger corpora feel it,
    * where it is exactly the bound that makes the eval linear. */
  private val PanelCap = 2000L
  private def panel(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % QueryMod === 0 && col("vec_id") < PanelCap)

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))

  def qCosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    Ann.cosineTopK(e, e.transform(panel), K)
  }

  def qCosineLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    Ann.cosineTopKLsh(e, e.transform(panel), K,
      planes = 8, dim = 64)
  }

  def qCosineIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    Ann.ivfTopK(e, e.transform(panel), K,
      nlist = 16, nprobe = 2, iters = 2)
  }

  /** Incremental IVF: vectors with vec_id % 10 == 6 arrive AFTER the
    * index was trained on everything else; they're assigned to the
    * frozen centroids map-only and served alongside the base — no
    * retraining scan (Ann.ivfDeltaTopK). Queries come from the base. */
  def qAnnIvfDelta(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val base = e.filter(col("vec_id") % 10 =!= 6)
    Ann.ivfDeltaTopK(base, e.filter(col("vec_id") % 10 === 6),
      base.transform(panel), K,
      nlist = 16, nprobe = 2, iters = 2, dim = Ann.DefaultDim)
  }

  /** Embedding-cosine near-dup sweep over the whole corpus (threshold
    * tuned so the synthetic random embeddings yield a non-trivial pair
    * set; real corpora use ~0.95+). Hyperplane count is CORPUS-SCALED
    * (r13 full-suite decade: fixed 8 planes = 256 buckets made the
    * within-bucket all-pairs n²/256 — measured 22.8× at 10× data):
    * planes = max(8, ceil(log2(n/8))) targets ~8 vectors per bucket at
    * any corpus size, the standard LSH sizing rule; by construction
    * exactly 8 at every shipped sf (500 and 2000 vectors), so the
    * oracle's 8-plane replay stays literal there. */
  def qDedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val n = corpusN(spark, dir)
    val planes = math.max(8,
      math.ceil(math.log(n / 8.0) / math.log(2.0)).toInt)
    // the oracle replays a LITERAL 8-plane chain; that is only the
    // derived value while n <= 2048 — make the coupling a checked
    // invariant instead of a comment, so shipping a larger oracle-
    // gated corpus fails HERE, not as a silent hash mismatch
    require(n > 2048 || planes == 8,
      s"oracle coupling: n=$n derives planes=$planes, oracle assumes 8")
    Ann.cosineNearDupPairs(e, planes = planes, dim = 64, minCos = 0.3)
  }

  /** Top-k over int8-quantized vectors (compressed-index baseline). */
  def qQuantizedTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    Ann.quantizedTopK(e, e.transform(panel), K)
  }

  /** Recall@k of the quantized index against the float brute force —
    * measures what int8 compression costs in ranking quality. */
  def qAnnRecallQuantized(spark: SparkSession, dir: String): DataFrame =
    Ann.recallAtK(qQuantizedTopK(spark, dir), qCosineTopK(spark, dir), K)

  /** Embedding-distribution drift via the FROZEN coarse quantizer —
    * the embedding-space twin of the text score drift (χ² row 145),
    * and the way production embedding monitors actually watch a space:
    * assign BOTH snapshots to the same frozen centroids (the session's
    * shared coarse artifact — monitoring is only meaningful against a
    * fixed quantizer) and compare cluster POPULATIONS with the
    * rational symmetric χ², per-cluster contributions quantized to
    * integer nanos so the total sums order-independently. The planted
    * shift (every 5th prev vector direction-REVERSED) relocates ~20%
    * of prev mass to other clusters; the χ² concentrates exactly
    * there. Per-snapshot cost is one map-only assignment scan; the
    * comparison is 16 rows. */
  def qEmbeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val (cents, _) = coarse(spark, dir)
    val e = emb(spark, dir)
    def side(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("side"),
          transform(col("embedding"), x => x.cast("double")).as("e"))
        .select(col("side"), Lloyd.nearest(col("e"), cents).as("cluster"))
    val prev = side("prev", e.filter(col("vec_id") % 7 =!= 3)
      .select(col("vec_id"),
        when(col("vec_id") % 5 === 0, reverse(col("embedding")))
          .otherwise(col("embedding")).as("embedding")))
    val cur = side("cur", e.filter(col("vec_id") % 13 =!= 5))
    val grp = prev.unionByName(cur).groupBy("cluster")
      .agg(sum(when(col("side") === "prev", 1L).otherwise(0L))
          .as("n_prev"),
        sum(when(col("side") === "cur", 1L).otherwise(0L)).as("n_cur"))
    val tots = grp.agg(sum("n_prev").as("tp"), sum("n_cur").as("tc"))
    val withC = grp.crossJoin(broadcast(tots))
      .withColumn("num",
        col("n_prev") * col("tc") - col("n_cur") * col("tp"))
      .withColumn("den",
        (col("tp") * col("tc")).cast("double") *
          (col("n_prev") * col("tc") + col("n_cur") * col("tp"))
            .cast("double"))
      .withColumn("contrib_nano",
        round((col("num") * col("num")).cast("double") / col("den")
          * 1e9, 0).cast("long"))
      .localCheckpoint() // cluster rows + the chi2 marginal
    val chi2 = withC.agg(
      round(sum("contrib_nano").cast("double") / 1e9, 6).as("chi2"))
    withC.crossJoin(broadcast(chi2))
      .select(col("cluster"), col("n_prev"), col("n_cur"),
        round(col("n_prev").cast("double") / col("tp").cast("double"), 6)
          .as("frac_prev"),
        round(col("n_cur").cast("double") / col("tc").cast("double"), 6)
          .as("frac_cur"),
        round(col("contrib_nano").cast("double") / 1e9, 6).as("contrib"),
        col("chi2"))
  }

  /** Hybrid retrieval fusion (reciprocal-rank fusion, Cormack et al.
    * 2009): the standard way a RAG stack combines a sparse (BM25) and a
    * dense (embedding cosine) ranking without score calibration —
    * RRF(d) = Σ 1/(60+rank_list(d)), here in exact integer arithmetic
    * (1e6 div (60+rank)) so the fused order is bit-stable. Sparse leg =
    * the shared BM25 scorer ranked through TopKAgg (map-side partial
    * top-k, no global window); dense leg = brute-force cosine for query
    * vector 0 (doc_id and vec_id are the same id space). Docs on only
    * one list still score (rank 0 recorded for the missing leg) — the
    * union semantics real fusion uses. Both legs are top-50; output =
    * fused top-20. */
  def qRrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val FK = 50
    val sparse = TextQueries.bm25Scores(spark, dir)
      .groupBy()
      .agg(graft.functions.TopKAgg(-col("score"), col("doc_id"),
        lit(0L), FK).as("tk"))
      .select(posexplode(col("tk")).as(Seq("pos", "t")))
      .select(col("t.tie").as("doc_id"),
        (col("pos") + 1).cast("long").as("sparse_rank"))
    val e = emb(spark, dir)
    val dense = Ann.cosineTopK(e, e.filter(col("vec_id") === 0), FK)
      .select(col("nid").as("doc_id"),
        col("rank").cast("long").as("dense_rank"))
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("sparse_rank"), lit(0L)).as("sparse_rank"),
        coalesce(col("dense_rank"), lit(0L)).as("dense_rank"))
      .withColumn("rrf_score",
        when(col("sparse_rank") > 0,
          expr("1000000 div (60 + sparse_rank)")).otherwise(0L) +
        when(col("dense_rank") > 0,
          expr("1000000 div (60 + dense_rank)")).otherwise(0L))
      .withColumn("in_both",
        col("sparse_rank") > 0 && col("dense_rank") > 0)
      .orderBy(col("rrf_score").desc, col("doc_id")).limit(20)
  }

  /** Late-interaction retrieval (ColBERT-style MaxSim, Khattab &
    * Zaharia 2020): documents and queries carry TOKEN-level vectors,
    * and the score is Σ over query tokens of the best-matching doc
    * token — the operator shape single-vector cosine cannot express
    * (a query term can align to a different doc region each). Token
    * vectors here are the 64-dim embedding reshaped to 8 tokens × 8
    * dims (deterministic slicing — the corpus carries no token-level
    * data, so the RESHAPE is the harness and the OPERATOR is real).
    * All 8×8 dots run row-locally inside one HOF expression with a
    * pinned left-fold order; the only shuffle is TopKAgg's bounded
    * top-10. */
  def qMaxSim(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q0 = e.filter(col("vec_id") === 0)
      .select(col("embedding")).collect()(0)
      .getSeq[Float](0).map(_.toDouble).toArray
    // NATIVE MaxSim kernel (r18 opt): the unrolled HOF grid (8 query
    // tokens x array_max over 8 doc-token dots, each dot 8 inlined
    // cast+multiply terms over an inlined cast-transform) built ~2000
    // Catalyst nodes — seconds of driver optimize/codegen time per
    // run plus interpreted per-row HOF evaluation. One kernel node
    // runs the identical pinned left-fold arithmetic in a compiled
    // triple loop (functions.MaxSimScore scaladoc has the fold-order
    // proof); the oracle's unrolled replay is untouched. Measured
    // isolated (min of runs): ~2.7-3.1 s before -> 0.88 s with the
    // kernel + the spread below (spread alone moved nothing — the
    // cost was the tree, not the scan).
    val score = graft.functions.MaxSimScore(col("embedding"), q0, 8, 8)
    // spread the scored scan (r18 opt, the Tables.spread rule): the
    // single-row-group corpus plans at parallelism 1. No-op on a real
    // many-file corpus.
    Tables.spread(e.filter(col("vec_id") =!= 0))
      .select(col("vec_id"), round(score, 4).as("maxsim4"))
      .groupBy()
      .agg(graft.functions.TopKAgg(-col("maxsim4"), col("vec_id"),
        lit(0L), 10).as("tk"))
      .select(posexplode(col("tk")).as(Seq("pos", "t")))
      .select(col("t.tie").as("vec_id"),
        (col("pos") + 1).cast("int").as("rank"),
        (-col("t.key")).as("maxsim4"))
  }

  /** Embedding outlier audit under the FROZEN shared coarse quantizer
    * (the same artifact IVF serving, SemDeDup and the drift monitor
    * read): a vector far from its own cluster centroid is junk — a
    * corrupted embedding, an out-of-domain document, a failed encode.
    * This synthetic corpus has no junk (measured: zero flags on the raw
    * table), so corruption is PLANTED (vec_id%83 scaled ×3 — a botched
    * normalization, the classic encode bug) and assigned through the
    * FROZEN quantizer, clean-trained; `is_planted` makes the audit
    * gradeable. Distance is the kernel's round-6 d2 lifted to exact
    * nanos, so the per-cluster mean is an order-free integer sum; the
    * flag is relative (d2 ≥ 2.25× cluster mean — integer ratio ×100 vs
    * 225), which survives re-scaling of the embedding space. Plan: one
    * map-only assignment pass (model in the expression), one 16-row
    * stats aggregate broadcast back — the corpus never shuffles. */
  def qEmbeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    val (cents, _) = coarse(spark, dir)
    val planted = col("vec_id") % 83 === 7
    val a = emb(spark, dir)
      .select(col("vec_id"), planted.as("is_planted"),
        graft.functions.IvfDistances(
          when(planted,
            transform(col("embedding"), x => x.cast("double") * 3.0))
            .otherwise(
              transform(col("embedding"), x => x.cast("double"))), cents)
          .getItem(0).as("n0"))
      .select(col("vec_id"), col("is_planted"),
        col("n0.cluster").as("cluster"),
        round(col("n0.d2") * 1e9, 0).cast("long").as("d2_nano"))
      .localCheckpoint() // stats aggregate + flag join-back
    val st = a.groupBy("cluster")
      .agg(count(lit(1)).as("n_members"), sum("d2_nano").as("sum_nano"))
      .select(col("cluster"), col("n_members"),
        expr("sum_nano div n_members").as("mean_nano"))
    a.join(broadcast(st), Seq("cluster"))
      .select(col("vec_id"), col("cluster"), col("d2_nano"),
        col("n_members"), col("mean_nano"),
        expr("d2_nano * 100 div greatest(mean_nano, 1)")
          .as("ratio_x100"), col("is_planted"))
      .withColumn("is_outlier", col("ratio_x100") >= 225)
  }

  /** Inter-annotator agreement (Cohen's κ, 1960 — public literature) —
    * the governance statistic a labeling pipeline reports before
    * anyone trains on the labels: agreement between the original
    * annotation and a planted noisy re-annotation (every 7th vector
    * confused to the NEXT class, every 13th to class+5 — one
    * systematic mode, one broad mode), corrected for chance. κ stays
    * RATIONAL end to end: κ = (diag·N − Σ_k r_k·c_k) / (N² − Σ_k
    * r_k·c_k) — all integers until one final division (N ≤ 5000 here,
    * so every product is far inside long range). Output: the ≤100
    * confusion cells with both marginals, κ and the raw agreement
    * broadcast back; one scan, label-cardinality-bounded aggregates. */
  def qLabelKappa(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"),
        col("label").cast("long").as("a"))
      .withColumn("b",
        when(col("vec_id") % 7 === 0, (col("a") + 1) % 10)
          .when(col("vec_id") % 13 === 0, (col("a") + 5) % 10)
          .otherwise(col("a")))
    val cells = base.groupBy("a", "b").agg(count(lit(1)).as("n"))
      .localCheckpoint() // cells + marginals + kappa all read it
    val rowM = cells.groupBy("a").agg(sum("n").as("row_marg"))
    val colM = cells.groupBy("b").agg(sum("n").as("col_marg"))
    val tot = cells.agg(sum("n").as("n_total"),
      sum(when(col("a") === col("b"), col("n")).otherwise(0L))
        .as("n_agree"))
    val peNum = rowM.join(colM, col("a") === col("b"))
      .agg(sum(col("row_marg") * col("col_marg")).as("pe_num"))
    val kap = tot.crossJoin(peNum)
      .select(col("n_total"), col("n_agree"),
        round((col("n_agree") * col("n_total") - col("pe_num"))
          .cast("double") /
          (col("n_total") * col("n_total") - col("pe_num"))
            .cast("double"), 6).as("kappa"))
    cells.join(broadcast(rowM), Seq("a"))
      .join(broadcast(colM), Seq("b"))
      .crossJoin(broadcast(kap))
      .select(col("a"), col("b"), col("n"), col("row_marg"),
        col("col_marg"), col("n_total"), col("n_agree"), col("kappa"))
  }

  private val MatDims = Seq(32, 16, 8)

  /** Matryoshka truncation recall — the MRL operating-point curve
    * (Kusupati et al. 2022, public literature): recall@k of
    * brute-force cosine over the embedding TRUNCATED to its first d
    * dims against the full-64-dim exact top-k, for d in {32, 16, 8}.
    * This is the eval behind the modern serving trade (store/search a
    * prefix, rerank with the full vector): each row answers "what does
    * dropping to d dims cost" the same way the LSH/IVF/int8/PQ recall
    * monitors price their tiers — completing the recall family along
    * the DIMENSION axis rather than the index axis. Plan: one slice
    * projection per d over the shared materialized embedding scan,
    * the same map-only CosineScores kernel (dim=d), recall join
    * against the one shared exact baseline. */
  def qAnnRecallMatryoshka(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).localCheckpoint()
    val exact = Ann.cosineTopK(e, e.transform(panel),
      K).localCheckpoint()
    MatDims.map { d =>
      val t = e.select(col("vec_id"),
        expr(s"slice(embedding, 1, $d)").as("embedding"))
      val approx = Ann.cosineTopK(t,
        t.transform(panel), K, dim = d)
      Ann.recallAtK(approx, exact, K).withColumn("dim", lit(d.toLong))
    }.reduce(_ unionAll _)
      .select(col("dim"), col("qid"), col("n_hits"), col("n_exact"),
        col("recall"))
  }

  private val PcaIters = 4

  /** Top principal component of the embedding space by in-engine power
    * iteration (operators.Pca): 4 steps, each ONE map-side-combined
    * aggregate — the covariance is never materialized. Integer-nano
    * term quantization + IEEE-only driver updates make the training
    * replayable, so the DuckDB oracle RETRAINS the identical component
    * and the per-vector projections hash-match. */
  def qPcaProject(spark: SparkSession, dir: String): DataFrame = {
    // 5 consumers of the embedding column (4 power steps + projection):
    // materialize once
    val e = emb(spark, dir).localCheckpoint()
    val v = graft.operators.Pca.powerIteration(e, Ann.DefaultDim, PcaIters)
    graft.operators.Pca.project(e, "vec_id", v)
  }

  /** Hard-negative mining — the contrastive-training data op (the
    * triplet builder behind every embedding finetune): per anchor
    * query, the nearest SAME-label vector is the positive and the
    * nearest DIFFERENT-label vector is the hard negative; the margin
    * between them is what the loss will push on, and `violation` marks
    * the anchors where the hard negative already outranks the positive
    * (the pairs worth training on). One scored scan feeds BOTH argmaxes
    * (conditional k=1 bounded heaps, same key family); round-4 before
    * rank, ties to the lower id. */
  def qHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"), col("label"),
        col("embedding"))
    val nrm = sqrt(aggregate(col("embedding").cast("array<double>"),
      lit(0.0), (a, x) => a + x * x))
    val base = e.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("e"), nrm.as("nn"))
      .localCheckpoint() // corpus side + query side
    val q = base.transform(panel)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("e").as("qe"), col("nn").as("qn"))
    val dot = (0 until Ann.DefaultDim).map(i =>
      col("qe").getItem(i) * col("e").getItem(i))
      .foldLeft(lit(0.0))(_ + _)
    val scored = base.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qlabel"), col("vec_id").as("nid"),
        col("label"),
        round(dot / greatest(col("qn") * col("nn"), lit(1e-12)), 4)
          .as("cos4"))
      .localCheckpoint() // two conditional argmaxes below
    def best(cond: org.apache.spark.sql.Column) = scored.filter(cond)
      .groupBy("qid")
      .agg(graft.functions.TopKAgg(-col("cos4"), col("nid"), col("nid"),
        1).as("tk"), first("qlabel").as("qlabel"))
      .select(col("qid"), col("qlabel"),
        element_at(col("tk"), 1).getField("payload").as("nid"),
        (-element_at(col("tk"), 1).getField("key")).as("cos4"))
    val pos = best(col("label") === col("qlabel"))
      .withColumnRenamed("nid", "pos_id")
      .withColumnRenamed("cos4", "pos_cos4")
    val neg = best(col("label") =!= col("qlabel"))
      .select(col("qid"), col("nid").as("neg_id"),
        col("cos4").as("neg_cos4"))
    pos.join(neg, Seq("qid"))
      .select(col("qid"), col("qlabel").as("label"), col("pos_id"),
        col("pos_cos4"), col("neg_id"), col("neg_cos4"),
        round(col("pos_cos4") - col("neg_cos4"), 4).as("margin"))
      .withColumn("violation", col("margin") < 0.0)
  }

  /** Embedding-label audit (operators.LabelAudit): per-label centroids
    * from one integer-nano aggregate, map-only scoring against all
    * centroids as literals, mislabel flag when a foreign class center
    * is closer than the own one. */
  def qLabelAudit(spark: SparkSession, dir: String): DataFrame =
    graft.operators.LabelAudit.audit(
      Tables.load(spark, dir, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"), col("label"),
          col("embedding")),
      Ann.DefaultDim)

  /** Johnson–Lindenstrauss projection 64 → 16 (operators.Pca
    * .randomProject): Achlioptas ±1/4 signs from the LSH planes' hash —
    * the matrix-free, training-free dim reduction that precedes an ANN
    * build; one map-only pass, no shuffle, no artifact. */
  def qRandomProjection(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Pca.randomProject(emb(spark, dir), "vec_id",
      Ann.DefaultDim, 16)

  /** Hamming top-k over 1-bit sign-quantized vectors — the most
    * compressed tier of the index spectrum (float -> int8 -> PQ ->
    * 1-bit). */
  def qBinaryTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    Ann.binaryTopK(e, e.transform(panel), K)
  }

  /** Recall@k of the binary sign index against the float brute force —
    * what 1-bit compression costs in ranking quality. */
  def qAnnRecallBinary(spark: SparkSession, dir: String): DataFrame =
    Ann.recallAtK(qBinaryTopK(spark, dir), qCosineTopK(spark, dir), K)

  /** Recall@k of the LSH index against the exact brute-force top-k —
    * the quality monitor a production ANN deployment runs beside the
    * index build. */
  def qAnnRecallLsh(spark: SparkSession, dir: String): DataFrame =
    Ann.recallAtK(qCosineLsh(spark, dir), qCosineTopK(spark, dir), K)

  /** Recall@k of the IVF index (nprobe=2 of nlist=16 cells). Reads the
    * PERSISTED index (qAnnIvfIndexed), as a production recall monitor
    * would — results are identical to the inline path (spec-asserted),
    * so the oracle is unchanged. */
  def qAnnRecallIvf(spark: SparkSession, dir: String): DataFrame =
    Ann.recallAtK(qAnnIvfIndexed(spark, dir), qCosineTopK(spark, dir), K)

  /** Recall of the INCREMENTAL index against the full-corpus brute
    * force — every served index kind carries a monitor, and the delta
    * path must too: the question it answers is precisely whether the
    * frozen quantizer still routes the NEW data well (quantizer drift
    * is the failure mode that decides when the weekly retrain is due).
    * Queries (vec_id % 50 = 0) are all base rows by arithmetic, and
    * the truth is the brute force over base ∪ delta = everything —
    * the same qCosineTopK baseline the other monitors share. */
  def qAnnRecallDelta(spark: SparkSession, dir: String): DataFrame =
    Ann.recallAtK(qAnnIvfDelta(spark, dir), qCosineTopK(spark, dir), K)

  /** The session's ANN artifact namespace for a data dir
    * ([[Artifacts]]): the shared coarse quantizer and the
    * PQ index built over it live here, each keyed by its build
    * parameters. */
  private def annSlot(spark: SparkSession, dir: String) =
    Artifacts.slot(spark, "ann", dir)

  /** The session's SHARED coarse-quantizer artifact for this data dir:
    * ONE iters=2 Lloyd training + assignment per session, persisted
    * cluster-bucketed; q_ann_ivf_indexed, q_ann_recall_ivf, q_semdedup
    * and — while coarseNlist is 16 — the PQ index build all serve from
    * it (the r9 suite retrained the identical quantizer in four
    * separate queries). Training is deterministic, so every consumer's
    * answers — and the oracles, which replay the training chain in
    * SQL — are unchanged. */
  private def coarse(spark: SparkSession,
                     dir: String): (Seq[(Long, Array[Double])], DataFrame) = {
    val s = annSlot(spark, dir)
    Ann.coarseIndex(emb(spark, dir), nlist = coarseNlist(spark, dir),
      iters = 2, dim = 64, table = s.table, path = s.path)
  }

  /** Corpus-scaled cell count for the shared coarse quantizer — the
    * r13 decade probe's biggest finding: SemDeDup's within-cluster
    * pair sweep is n²/nlist, so a FIXED nlist=16 turned 10x data into
    * a measured 79x wall (every cluster's occupancy grew 10x, its
    * pair count 100x). The standard IVF sizing rule is cells ∝ corpus
    * (bounded cell OCCUPANCY, which is what both the pair sweep and a
    * probe's scan cost are linear in): nlist = max(16, n/125) — by
    * construction exactly 16 at every oracle-tested sf (500 and 2000
    * vectors), so the hardcoded-16 oracle CTE chains stay literal
    * replays there, while the 10x probe corpus (20k vectors) trains
    * 160 cells and restores ~linear scaling (re-measured in
    * SCALE_r13). The count is a 1-row aggregate on the embeddings
    * scan — driver-bounded. */
  private def coarseNlist(spark: SparkSession, dir: String): Int = {
    val n = corpusN(spark, dir)
    val nlist = math.max(16L, n / 125L).toInt
    // hardcoded-16 oracle CTE chains are literal replays only while
    // n <= 2000 — checked, not just commented (see qDedupEmbedding)
    require(n > 2000 || nlist == 16,
      s"oracle coupling: n=$n derives nlist=$nlist, oracle assumes 16")
    nlist
  }

  /** Memoized corpus size per (session, dir) — derived-capacity rules
    * (hyperplane count, nlist) need n, but each query invocation must
    * not pay its own full embeddings count scan; same memo as the
    * coarse artifact. */
  private def corpusN(spark: SparkSession, dir: String): Long =
    Artifacts.once(spark, Artifacts.slot(spark, "corpus_n", dir))(
      math.max(emb(spark, dir).count(), 1L))

  /** Persisted-index IVF: same parameters and RESULTS as q_ann_ivf, but
    * served from the session's shared cluster-bucketed index + memoized
    * centroid model (the index-build/index-serve split); the oracle is
    * therefore the plain IVF oracle — indexing must never change
    * answers. */
  def qAnnIvfIndexed(spark: SparkSession, dir: String): DataFrame = {
    val (cents, idx) = coarse(spark, dir)
    Ann.ivfProbeScore(idx,
      emb(spark, dir).transform(panel),
      cents, K, nprobe = 2, dim = 64)
  }

  /** IVF-PQ top-k: product-quantized residual codes (m=8 subspaces of 8
    * dims, ksub=8 codes each) served ADC-style from the probed cells —
    * the compressed-index form whose memory story survives 100 TB. */
  def qAnnPq(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    Ann.ivfPqTopK(e, e.transform(panel), K,
      nlist = 16, nprobe = 2, coarseIters = 2, m = 8, ksub = 8,
      pqIters = 2)
  }

  /** Incremental IVF-PQ (Ann.ivfPqDeltaTopK): the %10==6 slice arrives
    * after coarse quantizer AND codebooks trained on the rest; it is
    * assigned and encoded against the frozen artifacts (two map-only
    * passes) and served alongside the base codes. */
  def qAnnPqDelta(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val base = e.filter(col("vec_id") % 10 =!= 6)
    Ann.ivfPqDeltaTopK(base, e.filter(col("vec_id") % 10 === 6),
      base.transform(panel), K,
      nlist = 16, nprobe = 2, coarseIters = 2, m = 8, ksub = 8,
      pqIters = 2)
  }

  /** Recall@k of the PQ-compressed index against the float brute force —
    * what product quantization costs in ranking quality. The monitor
    * reads the PERSISTED index (qAnnPqIndexed), as a production recall
    * monitor would — results are identical to the inline path (spec-
    * asserted), so the oracle is unchanged; within a session the build
    * is amortized across every consumer of the index. */
  def qAnnRecallPq(spark: SparkSession, dir: String): DataFrame =
    Ann.recallAtK(qAnnPqIndexed(spark, dir), qCosineTopK(spark, dir), K)

  /** Persisted-index IVF-PQ: same parameters and RESULTS as q_ann_pq,
    * but built ONCE per session (the encoded index as a parquet
    * artifact, centroids and codebooks in the driver memo) and served
    * from it — no training scan reruns per query batch. The oracle is
    * the inline PQ oracle: indexing must never change answers. */
  def qAnnPqIndexed(spark: SparkSession, dir: String): DataFrame =
    pqIndexed(spark, dir, emb(spark, dir).transform(panel), K)

  /** Top-k of `queries` from the session's persisted IVF-PQ index —
    * the one index q_ann_pq_indexed, the rerank shortlist and the
    * indexed MMR shortlist share (nlist=16, m=8, ksub=8: q_ann_pq's
    * parameters, so the indexed rows match their inline twin at every
    * corpus size). */
  private def pqIndexed(spark: SparkSession, dir: String,
                        queries: DataFrame, k: Int): DataFrame = {
    val s = annSlot(spark, dir)
    Ann.ivfPqTopKIndexed(emb(spark, dir), queries, k,
      nlist = 16, nprobe = 2, coarseIters = 2, m = 8, ksub = 8,
      pqIters = 2, table = s.table, path = s.path)
  }

  private val Shortlist = 50

  /** Two-stage retrieval (r10): ADC shortlist of k'=50 from the
    * session's PERSISTED PQ index (same artifacts as q_ann_pq_indexed —
    * build shared, k doesn't change the index), then exact float
    * re-rank of the candidates to top-10. The production serving shape:
    * the compressed index prunes, the float pass touches only
    * queries x 50 rows. */
  def qAnnPqRerank(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val queries = e.transform(panel)
    val shortlist = pqIndexed(spark, dir, queries, Shortlist)
    Ann.rerankTopK(e, queries, shortlist, K)
  }

  /** Recall@k of the reranked two-stage result — beside
    * q_ann_recall_pq this quantifies what the exact refine buys back
    * (per query it can only match or beat the raw PQ recall: the
    * shortlist is a superset of PQ's top-k and exact scoring promotes
    * every true neighbor present). */
  def qAnnRecallRerank(spark: SparkSession, dir: String): DataFrame =
    Ann.recallAtK(qAnnPqRerank(spark, dir), qCosineTopK(spark, dir), K)

  /** SemDeDup over the embeddings table: coarse-cluster via the
    * session's SHARED artifact (same nlist/iters as the IVF queries —
    * the oracle reuses the IVF CTE chain), then min-id-anchor near-dup
    * within clusters. minCos matches the whole-corpus near-dup sweep
    * so the two operators are comparable: this one trades the
    * hyperplane-bucket bound for a semantic-cluster bound. */
  def qSemDedup(spark: SparkSession, dir: String): DataFrame =
    Ann.semDedupOn(coarse(spark, dir)._2, minCos = 0.3, dim = 64)

  /** MMR diversity rerank (SURVEY §2 row 217, r17): shortlist 20 by
    * exact cosine, then pick 5 greedily at lambda = 0.7 — the
    * shortlist-vs-redundancy step a RAG server runs between ANN and
    * the context window. Semantics + scale shape in
    * [[graft.operators.Ann.mmrRerank]]; the oracle unrolls the 5
    * greedy steps as chained CTEs over the same normalized doubles. */
  def qMmrRerank(spark: SparkSession, dir: String): DataFrame =
    Ann.mmrRerank(emb(spark, dir), emb(spark, dir).transform(panel),
      shortlist = 20, k = 5, lambda = 0.7, dim = 64)

  /** MMR over the PERSISTED index (r18, VERDICT r17 item 5): the
    * shortlist comes from the session's IVF-PQ artifact (ADC top-20,
    * same index q_ann_pq_indexed serves — build shared), is exact-
    * refined by the rerankTopK float pass (queries x 20 rows, the
    * row-83 composition), and the greedy MMR picks its 5 from THAT —
    * production MMR sits on top of the ANN index, never a fresh exact
    * corpus scan per batch (r17's q_mmr_rerank shortlisted via
    * cosineTopK — a full float scan). The oracle replays the identical
    * chain: the PQ CTE stack, the exact re-score of its 20, and the
    * same unrolled greedy steps. */
  def qMmrRerankIndexed(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val queries = e.transform(panel)
    val shortlist = pqIndexed(spark, dir, queries, 20)
    val refined = Ann.rerankTopK(e, queries, shortlist, 20)
    Ann.mmrRerankOn(e, refined, k = 5, lambda = 0.7, dim = 64)
  }

  /** Index-quality monitor for the indexed MMR serve: per-query
    * overlap of the artifact-served picks vs the inline (exact-
    * shortlist) picks — the recall discipline every index tier in the
    * suite carries (what the PQ shortlist costs the DIVERSIFIED
    * result, not just the top-k). */
  def qMmrRecallIndexed(spark: SparkSession, dir: String): DataFrame =
    // overlap=true: both monitor sides are full MMR chains, so the
    // concurrent materialization (guide §2.6) pays here — the row
    // costs ~the slower chain instead of the sum (r18 opt)
    Ann.recallAtK(qMmrRerankIndexed(spark, dir),
      qMmrRerank(spark, dir), 5, overlap = true)

  /** Margin-based bitext mining (SURVEY §2 row 226, r18): parallel-pair
    * candidates mined between two embedding corpora (even vec_ids =
    * src side, odd = tgt side) by the Artetxe & Schwenk DISTANCE
    * margin — cosine minus the mean of both endpoints' k-NN
    * neighborhoods, the hubness correction raw cosine lacks. Search is
    * cluster-bounded (per-side IVF coarse quantizers, probe-2 cluster
    * equi-joins — never all-pairs); margins rank in an exact-integer-
    * anchored space; forward/backward argmaxes + the mutual-best flag.
    * The oracle replays both coarse chains, both probe joins and the
    * identical margin arithmetic in DuckDB ([[graft.operators.Ann
    * .bitextMine]]). */
  def qBitextMine(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val src = e.filter(col("vec_id") % 2 === 0)
    val tgt = e.filter(col("vec_id") % 2 === 1)
    // per-side CORPUS-SCALED nlist (the semdedup rule — ~125 rows per
    // cell): 16 at every shipped sf, so the oracle's LIMIT-16 coarse
    // replay is exact there; at decade scale the cell count grows so
    // the cluster equi-join stays linear instead of saturating 16
    // cells with n/16-row products. Two bounded count() scalars — the
    // entityResolveFrom width-sizing shape.
    def nlistOf(n: Long) = math.max(16L, n / 125L).toInt
    // both side counts from ONE corpus pass (r18 opt: two separate
    // count() jobs paid two scans' scheduling for one table)
    val cnt = e.agg(
      sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)),
      sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L))).collect()(0)
    Ann.bitextMine(src, tgt, k = 4,
      nlistSrc = nlistOf(cnt.getLong(0)), nlistTgt = nlistOf(cnt.getLong(1)),
      nprobe = 2, iters = 2)
  }

  /** Bitext-mining recall monitor (SURVEY §2 row 227, r18): what the
    * cluster-bounded search costs the MINED PAIRS — indexed forward
    * picks and mutual flags vs EXACT all-pairs margin mining, per src
    * (the recall discipline every approximate tier in the suite
    * carries; exact = the nlist-1 degenerate configuration, feasible
    * at eval scale exactly like the brute-force sides of the ANN
    * recall rows). */
  def qBitextRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val src = e.filter(col("vec_id") % 2 === 0)
    val tgt = e.filter(col("vec_id") % 2 === 1)
    // the two sides materialize from two driver threads (guide §2.6 —
    // the recallAtK opt-in move; the chains share nothing below the
    // final join). Decided by interleaved in-session A/B against both
    // sides staying lazy inside the final action (sf0.1: lazy min
    // 8.46 s vs overlapped 7.91 s, 3/4 pairwise wins); results are
    // identical either way — the same two tables feed the same join.
    def idxSide() = qBitextMine(spark, dir)
      .select(col("src_id"), col("tgt_id").as("tgt_indexed"),
        col("mutual").as("mutual_indexed"))
    def exSide() = Ann.bitextMine(src, tgt, k = 4, nlistSrc = 1,
      nlistTgt = 1, nprobe = 1, iters = 2)
      .select(col("src_id"), col("tgt_id").as("tgt_exact"),
        col("mutual").as("mutual_exact"))
    val es = java.util.concurrent.Executors.newFixedThreadPool(2)
    val (idx, exact) =
      try {
        val idxF = es.submit(
          new java.util.concurrent.Callable[DataFrame] {
            def call(): DataFrame = idxSide().localCheckpoint()
          })
        val exF = es.submit(
          new java.util.concurrent.Callable[DataFrame] {
            def call(): DataFrame = exSide().localCheckpoint()
          })
        (idxF.get(), exF.get())
      } finally es.shutdown()
    exact.join(idx, Seq("src_id"), "left")
      .select(col("src_id"), col("tgt_exact"),
        coalesce(col("tgt_indexed"), lit(-1L)).as("tgt_indexed"),
        coalesce(col("tgt_indexed") === col("tgt_exact"), lit(false))
          .as("agree"),
        col("mutual_exact"),
        coalesce(col("mutual_indexed"), lit(false)).as("mutual_indexed"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bitext_mine" -> (qBitextMine _),
    "q_bitext_recall" -> (qBitextRecall _),
    "q_ann_pq_rerank" -> (qAnnPqRerank _),
    "q_ann_recall_rerank" -> (qAnnRecallRerank _),
    "q_ann_pq" -> (qAnnPq _),
    "q_ann_pq_indexed" -> (qAnnPqIndexed _),
    "q_semdedup" -> (qSemDedup _),
    "q_mmr_rerank" -> (qMmrRerank _),
    "q_mmr_rerank_indexed" -> (qMmrRerankIndexed _),
    "q_mmr_recall_indexed" -> (qMmrRecallIndexed _),
    "q_ann_recall_pq" -> (qAnnRecallPq _),
    "q_ann_ivf_indexed" -> (qAnnIvfIndexed _),
    "q_ann_cosine_topk" -> (qCosineTopK _),
    "q_ann_lsh" -> (qCosineLsh _),
    "q_ann_ivf" -> (qCosineIvf _),
    "q_ann_quantized" -> (qQuantizedTopK _),
    "q_ann_binary" -> (qBinaryTopK _),
    "q_pca_project" -> (qPcaProject _),
    "q_random_projection" -> (qRandomProjection _),
    "q_label_audit" -> (qLabelAudit _),
    "q_ann_ivf_delta" -> (qAnnIvfDelta _),
    "q_ann_pq_delta" -> (qAnnPqDelta _),
    "q_hard_negatives" -> (qHardNegatives _),
    "q_ann_recall_delta" -> (qAnnRecallDelta _),
    "q_ann_recall_binary" -> (qAnnRecallBinary _),
    "q_ann_recall_lsh" -> (qAnnRecallLsh _),
    "q_ann_recall_ivf" -> (qAnnRecallIvf _),
    "q_ann_recall_quantized" -> (qAnnRecallQuantized _),
    "q_ann_recall_matryoshka" -> (qAnnRecallMatryoshka _),
    "q_embedding_drift" -> (qEmbeddingDrift _),
    "q_rrf_fusion" -> (qRrfFusion _),
    "q_maxsim" -> (qMaxSim _),
    "q_embedding_outliers" -> (qEmbeddingOutliers _),
    "q_label_kappa" -> (qLabelKappa _),
    "q_dedup_embedding" -> (qDedupEmbedding _))

  /** DuckDB twin of the LSH path: the hyperplane components are the same
    * closed-form modular arithmetic, so buckets, candidates and scores
    * all reproduce exactly. */
  private val lshOracle: String =
    s"""WITH v AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |n AS (SELECT vec_id, e,
       |        sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
       |      FROM v),
       |planes AS (SELECT CAST(j AS BIGINT) AS j
       |           FROM (SELECT unnest(generate_series(0, 7)) AS j) g),
       |b AS (SELECT n.vec_id,
       |        CAST(SUM(CASE WHEN list_sum(list_transform(range(1, 65),
       |              i -> n.e[i] * (((j * 64 + i - 1) * 2654435761)
       |                   % 1000003 / 1000003.0 - 0.5))) > 0
       |            THEN CAST(POWER(2, j) AS BIGINT) ELSE 0 END)
       |          AS BIGINT) AS bucket
       |      FROM n, planes GROUP BY n.vec_id),
       |sv AS (SELECT n.vec_id, n.e, n.nrm, b.bucket
       |       FROM n JOIN b ON b.vec_id = n.vec_id),
       |q AS (SELECT vec_id AS qid, e AS qe, nrm AS qn, bucket FROM sv
       |      WHERE vec_id % $QueryMod = 0 AND vec_id < $PanelCap),
       |scored AS (
       |  SELECT q.qid, sv.vec_id AS nid, q.bucket,
       |    ROUND(list_sum(list_transform(range(1, 65),
       |            i -> q.qe[i] * sv.e[i]))
       |        / greatest(q.qn * sv.nrm, 1e-12), 4) AS cos4
       |  FROM sv JOIN q ON sv.bucket = q.bucket AND q.qid <> sv.vec_id)
       |SELECT qid, nid,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos4 DESC, nid)
       |    AS INT) AS rank, cos4, bucket
       |FROM scored
       |QUALIFY rank <= $K""".stripMargin

  /** Shared coarse-quantizer CTE chain (through `idx`, `c2`, `probes`):
    * same seeds (16 smallest vec_ids), two Lloyd rounds with
    * round(d2,6)-ranked assignment ([[LloydSql]]), probe-2 selection.
    * Used by the IVF, IVF-PQ, SemDeDup and embedding-monitor oracles. */
  private val ivfCoarseCtes: String = ivfCoarseCtesOn("")

  /** Same coarse chain with the TRAINING corpus filtered — the
    * incremental-index oracle trains on the base slice only. */
  private def ivfCoarseCtesOn(where: String): String =
    s"""${coarseChain("", where)},
       |q0 AS (SELECT vec_id AS qid, e, nrm FROM n
       |       WHERE vec_id % $QueryMod = 0 AND vec_id < $PanelCap),
       |${LloydSql.nearest("probes", "q0", "qid", "c2", 64, keep = 2)}"""
      .stripMargin

  /** The coarse quantizer over the `where` slice of the embeddings, CTE
    * names prefixed by `p` so several replays coexist in one query:
    * `${p}n` (vec_id, e, nrm), models `${p}c0`..`${p}c2`, and `${p}idx`
    * (`${p}n` plus its cluster). */
  private def coarseChain(p: String, where: String): String =
    s"""${p}v AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings $where),
       |${p}n AS (SELECT vec_id, e,
       |        sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
       |      FROM ${p}v),
       |${LloydSql.idSeeds(p, s"${p}n", "vec_id", 16)},
       |${LloydSql.chain(p, s"${p}n", "vec_id", 64, 2)}""".stripMargin

  /** Bitext-mining oracle: both coarse chains, whole-side probe-2
    * assignment, cluster-join scoring, exact-integer top-4 sums,
    * identical margin arithmetic, forward/backward argmax + mutual.
    * The CTE body through bf/bb is shared with the recall oracle. */
  private val bitextCtes: String = {
    def probes(p: String, sideN: String, cents: String) =
      LloydSql.nearest(p, sideN, "vec_id", cents, 64, keep = 2)
    def scored(out: String, idx: String, pr: String, qAs: String,
               nAs: String) =
      s"""$out AS (
         |  SELECT p.vec_id AS $qAs, x.vec_id AS $nAs,
         |    ROUND(list_sum(list_transform(range(1, 65),
         |            i -> p.e[i] * x.e[i]))
         |        / greatest(p.nrm * x.nrm, 1e-12), 4) AS cos4
         |  FROM $idx x JOIN $pr p ON x.cluster = p.cluster)""".stripMargin
    def knn(out: String, d: String, idc: String, otherc: String,
            sumAs: String, kAs: String) =
      s"""$out AS (
         |  SELECT $idc, SUM(c4s) AS $sumAs, CAST(COUNT(*) AS BIGINT)
         |      AS $kAs
         |  FROM (SELECT $idc, CAST(ROUND(cos4 * 10000) AS BIGINT) AS c4s,
         |      ROW_NUMBER() OVER (PARTITION BY $idc
         |        ORDER BY cos4 DESC, $otherc) AS rn FROM $d) z
         |  WHERE rn <= 4 GROUP BY $idc)""".stripMargin
    def margins(out: String, d: String, rxT: String, ryT: String) =
      s"""$out AS (
         |  SELECT d.xid, d.yid,
         |    CAST(ROUND(d.cos4 * 10000) AS BIGINT) AS c4s,
         |    CAST(CAST(ROUND(d.cos4 * 10000) AS BIGINT) AS DOUBLE)
         |      - (CAST(r1.rsx AS DOUBLE) / CAST(r1.kx AS DOUBLE)
         |        + CAST(r2.rsy AS DOUBLE) / CAST(r2.ky AS DOUBLE)) / 2.0
         |      AS mrg
         |  FROM $d d
         |  JOIN $rxT r1 ON r1.xid = d.xid
         |  JOIN $ryT r2 ON r2.yid = d.yid)""".stripMargin
    // exact all-pairs chain (the recall oracle's reference side): one
    // cosine table serves both directions — pair sets coincide
    val exact =
      s"""d1e AS (
         |  SELECT s.vec_id AS xid, t.vec_id AS yid,
         |    ROUND(list_sum(list_transform(range(1, 65),
         |            i -> s.e[i] * t.e[i]))
         |        / greatest(s.nrm * t.nrm, 1e-12), 4) AS cos4
         |  FROM sn s, tn t),
         |${knn("rxe", "d1e", "xid", "yid", "rsx", "kx")},
         |${knn("rye", "d1e", "yid", "xid", "rsy", "ky")},
         |${margins("m1e", "d1e", "rxe", "rye")},
         |bfe AS (SELECT xid, yid FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY xid
         |      ORDER BY mrg DESC, yid) AS rn FROM m1e) z WHERE rn = 1),
         |bbe AS (SELECT yid, xid AS bx FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY yid
         |      ORDER BY mrg DESC, xid) AS rn FROM m1e) z WHERE rn = 1)"""
        .stripMargin
    s"""${coarseChain("s", "WHERE vec_id % 2 = 0")},
       |${coarseChain("t", "WHERE vec_id % 2 = 1")},
       |${probes("sp", "sn", "tc2")},
       |${probes("tp", "tn", "sc2")},
       |${scored("d1", "tidx", "sp", "xid", "yid")},
       |${scored("d2", "sidx", "tp", "yid", "xid")},
       |${knn("rx", "d1", "xid", "yid", "rsx", "kx")},
       |${knn("ry", "d2", "yid", "xid", "rsy", "ky")},
       |${margins("m1", "d1", "rx", "ry")},
       |${margins("m2", "d2", "rx", "ry")},
       |bf AS (SELECT xid, yid, c4s, mrg FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY xid
       |      ORDER BY mrg DESC, yid) AS rn FROM m1) z WHERE rn = 1),
       |bb AS (SELECT yid, xid AS bx FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY yid
       |      ORDER BY mrg DESC, xid) AS rn FROM m2) z WHERE rn = 1),
       |$exact""".stripMargin
  }

  private val bitextOracle: String =
    s"""WITH $bitextCtes
       |SELECT bf.xid AS src_id, bf.yid AS tgt_id,
       |  ROUND(CAST(bf.c4s AS DOUBLE) / 10000.0, 4) AS cos4,
       |  bf.mrg AS margin_x1e4,
       |  COALESCE(bb.bx = bf.xid, FALSE) AS mutual
       |FROM bf LEFT JOIN bb ON bb.yid = bf.yid""".stripMargin

  /** Recall-monitor oracle: the exact all-pairs argmaxes (bfe/bbe)
    * LEFT-joined to the indexed chain's picks — same comparison frame
    * the engine builds. */
  private val bitextRecallOracle: String =
    s"""WITH $bitextCtes
       |SELECT f.xid AS src_id, f.yid AS tgt_exact,
       |  COALESCE(bf.yid, -1) AS tgt_indexed,
       |  COALESCE(bf.yid = f.yid, FALSE) AS agree,
       |  COALESCE(be.bx = f.xid, FALSE) AS mutual_exact,
       |  COALESCE(bb.bx = bf.xid, FALSE) AS mutual_indexed
       |FROM bfe f
       |LEFT JOIN bbe be ON be.yid = f.yid
       |LEFT JOIN bf ON bf.xid = f.xid
       |LEFT JOIN bb ON bb.yid = bf.yid""".stripMargin

  private val ivfOracle: String =
    s"""WITH $ivfCoarseCtes,
       |scored AS (
       |  SELECT p.qid, x.vec_id AS nid, x.cluster,
       |    ROUND(list_sum(list_transform(range(1, 65),
       |            i -> p.e[i] * x.e[i]))
       |        / greatest(p.nrm * x.nrm, 1e-12), 4) AS cos4
       |  FROM idx x JOIN probes p ON x.cluster = p.cluster
       |  WHERE p.qid <> x.vec_id)
       |SELECT qid, nid,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos4 DESC, nid)
       |    AS INT) AS rank, cos4, cluster
       |FROM scored
       |QUALIFY rank <= $K""".stripMargin

  /** Incremental-IVF oracle: the coarse chain trains on the BASE slice
    * only, one extra CTE assigns the delta batch to the frozen final
    * centroids (same round-6 argmin + cluster tie), and scoring runs
    * over the union index. */
  private val ivfDeltaOracle: String =
    s"""WITH ${ivfCoarseCtesOn("WHERE vec_id % 10 <> 6")},
       |vd AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings WHERE vec_id % 10 = 6),
       |ndl AS (SELECT vec_id, e,
       |          sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
       |        FROM vd),
       |${LloydSql.nearest("adl", "ndl", "vec_id", "c2", 64)},
       |idx2 AS (SELECT * FROM idx UNION ALL SELECT * FROM adl),
       |scored AS (
       |  SELECT p.qid, x.vec_id AS nid, x.cluster,
       |    ROUND(list_sum(list_transform(range(1, 65),
       |            i -> p.e[i] * x.e[i]))
       |        / greatest(p.nrm * x.nrm, 1e-12), 4) AS cos4
       |  FROM idx2 x JOIN probes p ON x.cluster = p.cluster
       |  WHERE p.qid <> x.vec_id)
       |SELECT qid, nid,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos4 DESC, nid)
       |    AS INT) AS rank, cos4, cluster
       |FROM scored
       |QUALIFY rank <= $K""".stripMargin

  /** DuckDB twin of the IVF-PQ pipeline: residuals against the final
    * coarse centroids, cut into 8 subspace rows each (`rs`), per-subspace
    * codebooks seeded from the 8 smallest ids' residuals (code = seed
    * rank) and Lloyd-refined twice by the shared chain with the subspace
    * as book key (`pc2`, codes in `pidx`), ADC scoring of the m sub-codes
    * against each probed cell's query residual, rank by
    * (round(adist,6), nid). */
  private val pqOracle: String = pqOracleFrom(delta = false)

  /** Incremental-PQ twin: train on the base slice, assign+encode the
    * delta against the FROZEN c2 / pc2 models, serve the union. */
  private val pqDeltaOracle: String = pqOracleFrom(delta = true)

  private def pqOracleFrom(delta: Boolean): String = {
    // one row per (vector, subspace): the 8-wide slice s of residual r
    def subs(out: String, res: String) =
      s"""$out AS (
         |  SELECT x.vec_id, u.s,
         |    list_transform(range(1, 9), i -> x.r[u.s * 8 + i]) AS e
         |  FROM $res x,
         |       (SELECT CAST(unnest(generate_series(0, 7)) AS BIGINT) AS s) u)"""
        .stripMargin
    val coarse =
      if (delta) ivfCoarseCtesOn("WHERE vec_id % 10 <> 6")
      else ivfCoarseCtes
    // delta CTEs: frozen-centroid assign, residuals, frozen-book encode
    val deltaCtes = if (!delta) "" else
      s"""vd AS (
         |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings WHERE vec_id % 10 = 6),
         |${LloydSql.nearest("adl", "vd", "vec_id", "c2", 64)},
         |rdl AS (
         |  SELECT a.vec_id, a.cluster,
         |    list_transform(range(1, 65), i -> a.e[i] - c.ce[i]) AS r
         |  FROM adl a JOIN c2 c ON c.cluster = a.cluster),
         |${subs("rsd", "rdl")},
         |${LloydSql.nearest("encd", "rsd", "vec_id", "pc2", 8,
              by = Seq("s"))},
         |encu AS (SELECT vec_id, s, cluster FROM pidx
         |         UNION ALL SELECT vec_id, s, cluster FROM encd),
         |resu AS (SELECT vec_id, cluster FROM res
         |         UNION ALL SELECT vec_id, cluster FROM rdl),
         |""".stripMargin
    val encT = if (delta) "encu" else "pidx"
    val resT = if (delta) "resu" else "res"
    s"""WITH $coarse,
       |res AS (
       |  SELECT x.vec_id, x.cluster,
       |    list_transform(range(1, 65), i -> x.e[i] - c.ce[i]) AS r
       |  FROM idx x JOIN c2 c ON c.cluster = x.cluster),
       |${subs("rs", "res")},
       |pc0 AS (
       |  SELECT s, CAST(ROW_NUMBER() OVER (PARTITION BY s ORDER BY vec_id)
       |      - 1 AS BIGINT) AS cluster, e AS ce
       |  FROM rs
       |  WHERE vec_id IN (SELECT vec_id FROM res ORDER BY vec_id LIMIT 8)),
       |${LloydSql.chain("p", "rs", "vec_id", 8, 2, by = Seq("s"))},
       |$deltaCtes
       |qres AS (
       |  SELECT p.qid, p.cluster,
       |    list_transform(range(1, 65), i -> p.e[i] - c.ce[i]) AS qr
       |  FROM probes p JOIN c2 c ON c.cluster = p.cluster),
       |scored AS (
       |  -- element-ordered ADC fold: the engine sums all m x 8 terms in
       |  -- one s-major, i-minor chain, so the oracle flattens the
       |  -- s-ORDERED per-subspace term lists and list_sums ONCE — an
       |  -- unordered SUM over subspace rows could flip round(,6) on a
       |  -- knife-edge value (the ivfCoarseCtes discipline)
       |  SELECT qid, nid, cluster,
       |    ROUND(list_sum(flatten(list(sub_t ORDER BY s))), 6) AS adist6
       |  FROM (
       |    SELECT q.qid, e.vec_id AS nid, r.cluster, e.s,
       |      list_transform(range(1, 9),
       |        i -> (q.qr[e.s * 8 + i] - cb.ce[i])
       |           * (q.qr[e.s * 8 + i] - cb.ce[i])) AS sub_t
       |    FROM $encT e
       |    JOIN $resT r ON r.vec_id = e.vec_id
       |    JOIN qres q ON q.cluster = r.cluster AND q.qid <> e.vec_id
       |    JOIN pc2 cb ON cb.s = e.s AND cb.cluster = e.cluster)
       |  GROUP BY qid, nid, cluster)
       |SELECT qid, nid,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist6, nid)
       |    AS INT) AS rank, adist6, cluster
       |FROM scored
       |QUALIFY rank <= $K""".stripMargin
  }

  /** DuckDB twin of SemDeDup: the shared IVF coarse CTE chain assigns
    * clusters, then the within-cluster min-id-anchor rule replays with
    * the same rounded cosine. */
  private val semDedupOracle: String =
    s"""WITH $ivfCoarseCtes,
       |pairs AS (
       |  SELECT a.vec_id AS ida, b.vec_id AS idb
       |  FROM idx a JOIN idx b
       |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE ROUND(list_sum(list_transform(range(1, 65),
       |          i -> a.e[i] * b.e[i]))
       |      / greatest(a.nrm * b.nrm, 1e-12), 4) >= 0.3),
       |anchors AS (
       |  SELECT idb AS vec_id, MIN(ida) AS dup_of FROM pairs GROUP BY 1)
       |SELECT x.vec_id, x.cluster,
       |  COALESCE(an.dup_of, -1) AS dup_of,
       |  an.vec_id IS NULL AS keep
       |FROM idx x LEFT JOIN anchors an ON an.vec_id = x.vec_id""".stripMargin

  /** DuckDB twin of the near-dup sweep: same hyperplane buckets, same
    * rounded cosine, full self-join within buckets. */
  private val dedupEmbeddingOracle: String =
    s"""WITH v AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |n AS (SELECT vec_id, e,
       |        sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
       |      FROM v),
       |planes AS (SELECT CAST(j AS BIGINT) AS j
       |           FROM (SELECT unnest(generate_series(0, 7)) AS j) g),
       |b AS (SELECT n.vec_id,
       |        CAST(SUM(CASE WHEN list_sum(list_transform(range(1, 65),
       |              i -> n.e[i] * (((j * 64 + i - 1) * 2654435761)
       |                   % 1000003 / 1000003.0 - 0.5))) > 0
       |            THEN CAST(POWER(2, j) AS BIGINT) ELSE 0 END)
       |          AS BIGINT) AS bucket
       |      FROM n, planes GROUP BY n.vec_id),
       |sv AS (SELECT n.vec_id, n.e, n.nrm, b.bucket
       |       FROM n JOIN b ON b.vec_id = n.vec_id)
       |SELECT a.vec_id AS ida, c.vec_id AS idb,
       |  ROUND(list_sum(list_transform(range(1, 65),
       |          i -> a.e[i] * c.e[i]))
       |      / greatest(a.nrm * c.nrm, 1e-12), 4) AS cos4,
       |  a.bucket
       |FROM sv a JOIN sv c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
       |WHERE ROUND(list_sum(list_transform(range(1, 65),
       |          i -> a.e[i] * c.e[i]))
       |      / greatest(a.nrm * c.nrm, 1e-12), 4) >= 0.3""".stripMargin

  /** Recall oracle: both topk oracles as CTEs, same join + left-join
    * aggregation as Ann.recallAtK. */
  /** DuckDB twin of qPcaProject: RETRAINS the component — each power
    * step unrolls as CTE pairs (nano-quantized matvec aggregate, then
    * the IEEE-exact normalize), fold orders identical to the engine's;
    * see operators.Pca for the determinism contract. */
  private val pcaOracle: String = {
    val dim = Ann.DefaultDim
    def fold(terms: Seq[String]): String =
      terms.foldLeft("0.0")((acc, t) => s"($acc + $t)")
    val sb = new StringBuilder
    sb ++= """WITH v AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
             |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |  FROM embeddings)""".stripMargin
    var prevV: Int => String = _ => "1.0"
    for (t <- 1 to PcaIters) {
      val qExpr = fold((1 to dim).map(j => s"e[$j] * ${prevV(j)}"))
      val src = if (t == 1) "v" else s"v, vv${t - 1}"
      sb ++= s", q$t AS (SELECT vec_id, e, $qExpr AS q FROM $src)"
      val sums = (1 to dim).map(i =>
        s"SUM(CAST(ROUND(e[$i] * q * 1e9) AS BIGINT)) AS s$i")
        .mkString(", ")
      sb ++= s", s$t AS (SELECT $sums FROM q$t)"
      val us = (1 to dim).map(i => s"CAST(s$i AS DOUBLE) / 1e9 AS u$i")
        .mkString(", ")
      sb ++= s", w$t AS (SELECT $us FROM s$t)"
      val nrm = fold((1 to dim).map(i => s"u$i * u$i"))
      sb ++= s", n$t AS (SELECT *, sqrt($nrm) AS nrm FROM w$t)"
      val vs = (1 to dim).map(i => s"u$i / nrm AS v$i").mkString(", ")
      sb ++= s", vv$t AS (SELECT $vs FROM n$t)"
      prevV = j => s"v$j"
    }
    val proj = fold((1 to dim).map(j => s"e[$j] * v$j"))
    sb ++= s" SELECT vec_id, ROUND($proj, 6) AS pc1 FROM v, vv$PcaIters"
    sb.toString
  }

  /** DuckDB twin of Ann.binaryTopK: sign bits packed as two 32-bit
    * half-word sums, Hamming = bit_count(xor) + bit_count(xor), rank on
    * (ham ASC, nid ASC) — all exact integers. */
  private val binaryOracle: String =
    s"""WITH v AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |p AS (SELECT vec_id,
       |        CAST(list_sum(list_transform(range(1, 33), i ->
       |          CASE WHEN e[i] > 0 THEN (CAST(1 AS BIGINT) << (i - 1))
       |               ELSE 0 END)) AS BIGINT) AS w0,
       |        CAST(list_sum(list_transform(range(33, 65), i ->
       |          CASE WHEN e[i] > 0 THEN (CAST(1 AS BIGINT) << (i - 33))
       |               ELSE 0 END)) AS BIGINT) AS w1
       |      FROM v),
       |qs AS (SELECT vec_id AS qid, w0 AS q0, w1 AS q1 FROM p
       |       WHERE vec_id % $QueryMod = 0 AND vec_id < $PanelCap),
       |scored AS (
       |  SELECT qs.qid, p.vec_id AS nid,
       |    CAST(bit_count(xor(p.w0, qs.q0))
       |       + bit_count(xor(p.w1, qs.q1)) AS BIGINT) AS ham
       |  FROM p, qs WHERE qs.qid <> p.vec_id)
       |SELECT qid, nid,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ham, nid)
       |    AS INT) AS rank, ham
       |FROM scored
       |QUALIFY rank <= $K""".stripMargin

  private def recallOracle(approxSql: String, exactSql: String): String =
    s"""WITH approx AS ($approxSql),
       |exact AS ($exactSql),
       |hits AS (
       |  SELECT a.qid, COUNT(*) AS n_hits
       |  FROM approx a JOIN exact e ON a.qid = e.qid AND a.nid = e.nid
       |  GROUP BY 1),
       |ex AS (SELECT qid, COUNT(*) AS n_exact FROM exact GROUP BY 1)
       |SELECT ex.qid, COALESCE(hits.n_hits, 0) AS n_hits, ex.n_exact,
       |  ROUND(CAST(COALESCE(hits.n_hits, 0) AS DOUBLE)
       |      / CAST(ex.n_exact AS DOUBLE), 4) AS recall
       |FROM ex LEFT JOIN hits ON hits.qid = ex.qid""".stripMargin

  /** Truncated-dimension twin of topkOracle: first-d slice, norm and
    * dot over exactly those entries (same fold orders). */
  private def truncTopkOracle(d: Int): String =
    s"""WITH v AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |         list_transform(embedding[1:$d], x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |n AS (SELECT vec_id, e,
       |        sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
       |      FROM v),
       |q AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM n
       |      WHERE vec_id % $QueryMod = 0 AND vec_id < $PanelCap),
       |scored AS (
       |  SELECT q.qid, n.vec_id AS nid,
       |    ROUND(list_sum(list_transform(range(1, ${d + 1}),
       |            i -> q.qe[i] * n.e[i]))
       |        / greatest(q.qn * n.nrm, 1e-12), 4) AS cos4
       |  FROM n, q WHERE q.qid <> n.vec_id)
       |SELECT qid, nid,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos4 DESC, nid)
       |    AS INT) AS rank, cos4
       |FROM scored
       |QUALIFY rank <= $K""".stripMargin

  /** DuckDB twin of the MMR greedy chain: the 5 selection steps
    * UNROLLED as chained CTEs (k is a fixed parameter, so no recursion
    * is needed) — step i joins the shortlist against the i-1 prior
    * picks, scores round(0.7*cos4 - 0.3*GREATEST(pairwise cos4s), 4)
    * over the SAME unit-normalized doubles (list ops iterate in index
    * order on both engines), and takes rn=1 on (mmr4 DESC, nid). */
  /** DuckDB twin of the MMR greedy chain, PARAMETERIZED by the
    * shortlist definition `slDef` (CTEs ending in sl(qid, nid, cos4) —
    * already margin-stripped): the 5 selection steps unrolled as
    * chained CTEs over whatever shortlist the engine used (inline
    * exact top-20, or the persisted-PQ-index chain re-scored exact). */
  private def mmrOracleFrom(slDef: String): String = {
    // exact-integer score space (x1e5): 7*cos_x1e4 - 3*maxsim_x1e4 —
    // see Ann.mmrRerank's boundary-flicker note
    def cosv(j: Int) =
      s"CAST(ROUND(list_sum(list_transform(range(1, 65), " +
        s"t -> c.en[t] * s$j.en[t])) * 10000, 0) AS BIGINT)"
    val steps = (2 to 5).map { i =>
      val joins = (1 until i)
        .map(j => s"JOIN sel$j s$j ON s$j.qid = c.qid").mkString(" ")
      val notin = (1 until i).map(j => s"c.nid <> s$j.nid")
        .mkString(" AND ")
      val gre =
        if (i == 2) cosv(1)
        else "GREATEST(" + (1 until i).map(cosv).mkString(", ") + ")"
      s"""sel$i AS (SELECT qid, nid, cos4, en, mmr5, $i AS sr FROM (
         |  SELECT z.*, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY mmr5 DESC, nid) AS rn FROM (
         |    SELECT c.qid, c.nid, c.cos4, c.en,
         |      7 * CAST(ROUND(c.cos4 * 10000, 0) AS BIGINT)
         |        - 3 * $gre AS mmr5
         |    FROM cand c $joins WHERE $notin) z) w WHERE rn = 1)"""
        .stripMargin
    }
    s"""WITH v AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |n AS (SELECT vec_id, e,
       |        sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
       |      FROM v),
       |nn AS (SELECT vec_id, nrm,
       |         list_transform(e, x -> x / greatest(nrm, 1e-12)) AS en
       |       FROM n),
       |q AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM n
       |      WHERE vec_id % $QueryMod = 0 AND vec_id < $PanelCap),
       |$slDef,
       |cand AS (SELECT sl.qid, sl.nid, sl.cos4, nn.en
       |         FROM sl JOIN nn ON nn.vec_id = sl.nid),
       |sel1 AS (SELECT qid, nid, cos4, en,
       |    7 * CAST(ROUND(cos4 * 10000, 0) AS BIGINT) AS mmr5,
       |    1 AS sr FROM (
       |    SELECT z.*, ROW_NUMBER() OVER (PARTITION BY qid
       |        ORDER BY 7 * CAST(ROUND(cos4 * 10000, 0) AS BIGINT)
       |          DESC, nid) AS rn
       |    FROM cand z) w WHERE rn = 1),
       |${steps.mkString(",\n")}
       |SELECT qid, CAST(sr AS BIGINT) AS sel_rank, nid, cos4,
       |  mmr5 AS mmr_x1e5
       |FROM (SELECT qid, nid, cos4, mmr5, sr FROM sel1
       |  UNION ALL SELECT qid, nid, cos4, mmr5, sr FROM sel2
       |  UNION ALL SELECT qid, nid, cos4, mmr5, sr FROM sel3
       |  UNION ALL SELECT qid, nid, cos4, mmr5, sr FROM sel4
       |  UNION ALL SELECT qid, nid, cos4, mmr5, sr FROM sel5) u""".stripMargin
  }

  private val mmrOracle: String = mmrOracleFrom(
    """scored AS (
      |  SELECT q.qid, n.vec_id AS nid,
      |    ROUND(list_sum(list_transform(range(1, 65),
      |            i -> q.qe[i] * n.e[i]))
      |        / greatest(q.qn * n.nrm, 1e-12), 4) AS cos4
      |  FROM n, q WHERE q.qid <> n.vec_id),
      |sl AS (SELECT qid, nid, cos4 FROM (
      |    SELECT qid, nid, cos4, ROW_NUMBER() OVER (PARTITION BY qid
      |        ORDER BY cos4 DESC, nid) AS rnk
      |    FROM scored) zz WHERE rnk <= 20)""".stripMargin)

  /** Indexed-MMR oracle: the persisted-PQ chain (rank <= 20), its
    * exact float re-score (the rerankTopK replay), then the same
    * unrolled greedy — replaying EXACTLY what the engine serves from
    * the artifact. */
  private lazy val mmrIndexedOracle: String = mmrOracleFrom(
    s"""sl0 AS (${pqOracle.replace(s"QUALIFY rank <= $K",
        "QUALIFY rank <= 20")}),
       |sc2 AS (SELECT sl0.qid, sl0.nid,
       |    ROUND(list_sum(list_transform(range(1, 65),
       |        i -> q2.e[i] * c2.e[i]))
       |      / greatest(q2.nrm * c2.nrm, 1e-12), 4) AS cos4
       |  FROM sl0 JOIN n q2 ON q2.vec_id = sl0.qid
       |       JOIN n c2 ON c2.vec_id = sl0.nid),
       |sl AS (SELECT qid, nid, cos4 FROM sc2)""".stripMargin)

  private val topkOracle: String =
    s"""WITH v AS (
         |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |n AS (SELECT vec_id, e,
         |        sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
         |      FROM v),
         |q AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM n
         |      WHERE vec_id % $QueryMod = 0 AND vec_id < $PanelCap),
         |scored AS (
         |  SELECT q.qid, n.vec_id AS nid,
         |    ROUND(list_sum(list_transform(range(1, 65),
         |            i -> q.qe[i] * n.e[i]))
         |        / greatest(q.qn * n.nrm, 1e-12), 4) AS cos4
         |  FROM n, q WHERE q.qid <> n.vec_id)
         |SELECT qid, nid,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos4 DESC, nid)
         |    AS INT) AS rank, cos4
         |FROM scored
         |QUALIFY rank <= $K""".stripMargin

  /** DuckDB twin of the int8 quantization: same scale formula, same
    * round-to-integer, exact integer dots, one double division. */
  private val quantizedOracle: String =
    s"""WITH v AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |m AS (SELECT vec_id, e,
       |        list_max(list_transform(e, x -> abs(x))) AS mx
       |      FROM v),
       |qz AS (SELECT vec_id,
       |        list_transform(e, x ->
       |          CAST(ROUND(x * 127.0 / greatest(mx, 1e-12)) AS BIGINT)) AS q
       |      FROM m),
       |nz AS (SELECT vec_id, q,
       |        CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nq
       |      FROM qz),
       |qs AS (SELECT vec_id AS qid, q AS qq, nq AS qn FROM nz
       |       WHERE vec_id % $QueryMod = 0 AND vec_id < $PanelCap),
       |scored AS (
       |  SELECT qs.qid, nz.vec_id AS nid,
       |    ROUND(CAST(list_sum(list_transform(range(1, 65),
       |            i -> qs.qq[i] * nz.q[i])) AS DOUBLE)
       |        / greatest(sqrt(CAST(qs.qn AS DOUBLE))
       |            * sqrt(CAST(nz.nq AS DOUBLE)), 1e-12), 4) AS qcos4
       |  FROM nz, qs WHERE qs.qid <> nz.vec_id)
       |SELECT qid, nid,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY qcos4 DESC, nid)
       |    AS INT) AS rank, qcos4
       |FROM scored
       |QUALIFY rank <= $K""".stripMargin

  /** Rerank oracle: the PQ oracle widened to the k'=50 shortlist as a
    * nested-WITH CTE, then exact cosine over the candidate pairs and a
    * fresh top-10 ranking — the same scoring expression as the exact
    * brute-force oracle, restricted to shortlist rows. */
  private val rerankOracle: String = {
    val short = pqOracle.replace(s"QUALIFY rank <= $K",
      s"QUALIFY rank <= $Shortlist")
    s"""WITH sl AS ($short),
       |vv AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |       FROM embeddings),
       |nn AS (SELECT vec_id, e,
       |        sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
       |       FROM vv),
       |sc AS (SELECT sl.qid, sl.nid,
       |         ROUND(list_sum(list_transform(range(1, 65),
       |                 i -> q.e[i] * c.e[i]))
       |             / greatest(q.nrm * c.nrm, 1e-12), 4) AS cos4
       |       FROM sl JOIN nn q ON q.vec_id = sl.qid
       |            JOIN nn c ON c.vec_id = sl.nid)
       |SELECT qid, nid,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos4 DESC, nid)
       |    AS INT) AS rank, cos4
       |FROM sc
       |QUALIFY rank <= $K""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_ann_pq_rerank" -> rerankOracle,
    "q_ann_recall_rerank" -> recallOracle(rerankOracle, topkOracle),
    "q_ann_pq" -> pqOracle,
    "q_ann_pq_indexed" -> pqOracle,
    "q_semdedup" -> semDedupOracle,
    "q_mmr_rerank" -> mmrOracle,
    "q_mmr_rerank_indexed" -> mmrIndexedOracle,
    "q_mmr_recall_indexed" -> recallOracle(mmrIndexedOracle, mmrOracle),
    "q_ann_recall_pq" -> recallOracle(pqOracle, topkOracle),
    "q_ann_quantized" -> quantizedOracle,
    "q_ann_binary" -> binaryOracle,
    "q_pca_project" -> pcaOracle,
    // label audit: centroids re-derived from the same integer-nano sums
    // and the identical s/1e9/n double sequence; distances list-ordered,
    // rounded to 6 BEFORE the nearest-foreign ROW_NUMBER (the engine's
    // struct-min tie rule: (d, label) lexicographic)
    "q_label_audit" ->
      """WITH v AS (
        |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |         CAST(label AS INT) AS label,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |cs AS (SELECT label, j,
        |         SUM(CAST(ROUND(e[CAST(j AS INT)] * 1e9) AS BIGINT)) AS s,
        |         COUNT(*) AS n
        |       FROM v, (SELECT unnest(generate_series(1, 64)) AS j) g
        |       GROUP BY 1, 2),
        |c AS (SELECT label AS clab,
        |        list(CAST(s AS DOUBLE) / 1e9 / n ORDER BY j) AS cl
        |      FROM cs GROUP BY 1),
        |d AS (SELECT v.vec_id, v.label, c.clab,
        |        ROUND(list_sum(list_transform(range(1, 65),
        |          i -> (e[i] - cl[i]) * (e[i] - cl[i]))), 6) AS d2
        |      FROM v, c),
        |own AS (SELECT vec_id, label, d2 AS d_own FROM d
        |        WHERE label = clab),
        |fr AS (SELECT vec_id, clab, d2,
        |         ROW_NUMBER() OVER (PARTITION BY vec_id
        |           ORDER BY d2, clab) AS rn
        |       FROM d WHERE label <> clab)
        |SELECT o.vec_id, o.label, o.d_own, f.clab AS near_label,
        |  f.d2 AS d_other, ROUND(f.d2 - o.d_own, 6) AS margin,
        |  f.d2 < o.d_own AS mislabeled
        |FROM own o JOIN fr f ON f.vec_id = o.vec_id AND f.rn = 1""".stripMargin,
    // JL projection: sign(j,i) replayed from the same closed-form hash;
    // per-dim dot products are the in-order list_sum twin of the fixed
    // left-fold; the distortion ratio squares integer-micro projections
    // so its 16-term sum is order-independent
    "q_random_projection" ->
      """WITH v AS (
        |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |en AS (SELECT vec_id, e,
        |         list_sum(list_transform(e, x -> x * x)) AS en FROM v),
        |p AS (SELECT vec_id, en, j,
        |        list_sum(list_transform(range(1, 65), i -> e[i] *
        |          (CASE WHEN ((j * 64 + i - 1) * 2654435761)
        |                     % 1000003 % 2 = 0
        |                THEN 0.25 ELSE -0.25 END))) AS pj
        |      FROM en, (SELECT CAST(unnest(generate_series(0, 15))
        |                  AS BIGINT) AS j) g),
        |r AS (SELECT vec_id, en,
        |        SUM(CAST(ROUND(pj * 1e6) AS BIGINT)
        |          * CAST(ROUND(pj * 1e6) AS BIGINT)) AS s2
        |      FROM p GROUP BY vec_id, en)
        |SELECT p.vec_id, p.j, ROUND(p.pj, 6) AS proj6,
        |  CASE WHEN r.en = 0 THEN 0.0
        |       ELSE ROUND((CAST(r.s2 AS DOUBLE) / 1e12) / r.en, 4)
        |  END AS norm_ratio
        |FROM p JOIN r ON r.vec_id = p.vec_id""".stripMargin,
    "q_ann_recall_binary" -> recallOracle(binaryOracle, topkOracle),
    "q_ann_recall_quantized" -> recallOracle(quantizedOracle, topkOracle),
    "q_label_kappa" ->
      s"""WITH base AS (
         |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |         CAST(label AS BIGINT) AS a,
         |         CASE WHEN vec_id % 7 = 0 THEN (label + 1) % 10
         |              WHEN vec_id % 13 = 0 THEN (label + 5) % 10
         |              ELSE label END AS b
         |  FROM embeddings),
         |cells AS (SELECT a, b, COUNT(*) AS n FROM base GROUP BY 1, 2),
         |rm AS (SELECT a, SUM(n) AS row_marg FROM cells GROUP BY 1),
         |cm AS (SELECT b, SUM(n) AS col_marg FROM cells GROUP BY 1),
         |tot AS (SELECT SUM(n) AS n_total,
         |          SUM(CASE WHEN a = b THEN n ELSE 0 END) AS n_agree
         |        FROM cells),
         |pe AS (SELECT SUM(rm.row_marg * cm.col_marg) AS pe_num
         |       FROM rm JOIN cm ON rm.a = cm.b),
         |kap AS (SELECT n_total, n_agree,
         |          ROUND(CAST(n_agree * n_total - pe_num AS DOUBLE)
         |              / CAST(n_total * n_total - pe_num AS DOUBLE), 6)
         |            AS kappa
         |        FROM tot, pe)
         |SELECT c.a, c.b, CAST(c.n AS BIGINT) AS n,
         |  CAST(rm.row_marg AS BIGINT) AS row_marg,
         |  CAST(cm.col_marg AS BIGINT) AS col_marg,
         |  CAST(k.n_total AS BIGINT) AS n_total,
         |  CAST(k.n_agree AS BIGINT) AS n_agree, k.kappa
         |FROM cells c JOIN rm ON c.a = rm.a JOIN cm ON c.b = cm.b,
         |     kap k""".stripMargin,

    // MaxSim replay: same reshape, same left-fold dot order, same
    // (score desc, id) rank
    "q_maxsim" -> {
      val dot = (1 to 8).map(k =>
        s"q.qe[qt * 8 + $k] * v.e[t * 8 + $k]").mkString("\n|        + ")
      s"""WITH v AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
         |sc AS (SELECT v.vec_id,
         |  ROUND(list_sum(list_transform(range(0, 8), qt ->
         |    list_max(list_transform(range(0, 8), t ->
         |        $dot)))), 4) AS maxsim4
         |  FROM v, q WHERE v.vec_id <> 0),
         |r AS (SELECT vec_id, maxsim4,
         |        CAST(ROW_NUMBER() OVER (ORDER BY maxsim4 DESC, vec_id)
         |          AS INT) AS rk
         |      FROM sc)
         |SELECT vec_id, rk AS "rank", maxsim4
         |FROM r WHERE rk <= 10""".stripMargin
    },

    // RRF fusion: the BM25 CTE chain (shared with q_bm25) + a dense
    // brute-force leg for query vector 0, fused with the same integer
    // 1e6 // (60 + rank) arithmetic
    "q_rrf_fusion" ->
      s"""WITH ${TextQueries.bm25ScoreCtes},
         |sr AS (SELECT doc_id,
         |         CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
         |           AS BIGINT) AS sparse_rank
         |       FROM bscore QUALIFY sparse_rank <= 50),
         |v AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |      FROM embeddings),
         |n AS (SELECT vec_id, e,
         |        sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
         |      FROM v),
         |q AS (SELECT e AS qe, nrm AS qn FROM n WHERE vec_id = 0),
         |ds AS (SELECT n.vec_id AS doc_id,
         |         ROUND(list_sum(list_transform(range(1, 65),
         |                 i -> q.qe[i] * n.e[i]))
         |             / greatest(q.qn * n.nrm, 1e-12), 4) AS cos4
         |       FROM n, q WHERE n.vec_id <> 0),
         |dr AS (SELECT doc_id,
         |         CAST(ROW_NUMBER() OVER (ORDER BY cos4 DESC, doc_id)
         |           AS BIGINT) AS dense_rank
         |       FROM ds QUALIFY dense_rank <= 50),
         |f AS (SELECT COALESCE(sr.doc_id, dr.doc_id) AS doc_id,
         |        COALESCE(sr.sparse_rank, 0) AS sparse_rank,
         |        COALESCE(dr.dense_rank, 0) AS dense_rank
         |      FROM sr FULL OUTER JOIN dr ON sr.doc_id = dr.doc_id)
         |SELECT doc_id, sparse_rank, dense_rank,
         |  CAST(CASE WHEN sparse_rank > 0
         |         THEN 1000000 // (60 + sparse_rank) ELSE 0 END
         |     + CASE WHEN dense_rank > 0
         |         THEN 1000000 // (60 + dense_rank) ELSE 0 END
         |    AS BIGINT) AS rrf_score,
         |  sparse_rank > 0 AND dense_rank > 0 AS in_both
         |FROM f
         |ORDER BY rrf_score DESC, doc_id LIMIT 20""".stripMargin,

    // outlier audit: final coarse assignment with d2 exposed, lifted to
    // exact nanos; same integer mean/ratio arithmetic
    "q_embedding_outliers" ->
      s"""WITH ${ivfCoarseCtesOn("")},
         |pl AS (SELECT vec_id, vec_id % 83 = 7 AS is_planted,
         |         CASE WHEN vec_id % 83 = 7
         |           THEN list_transform(e, x -> x * 3.0)
         |           ELSE e END AS e
         |       FROM v),
         |${LloydSql.nearest("pla", "pl", "vec_id", "c2", 64)},
         |a AS (SELECT p.vec_id, p.is_planted, p.cluster,
         |        CAST(ROUND(${LloydSql.d2("p.e", "c.ce", 64)} * 1e9, 0)
         |          AS BIGINT) AS d2_nano
         |      FROM pla p JOIN c2 c ON c.cluster = p.cluster),
         |stats AS (SELECT cluster, COUNT(*) AS n_members,
         |            SUM(d2_nano) AS sum_nano
         |          FROM a GROUP BY 1)
         |SELECT a.vec_id, a.cluster, a.d2_nano,
         |  CAST(s.n_members AS BIGINT) AS n_members,
         |  CAST(s.sum_nano // s.n_members AS BIGINT) AS mean_nano,
         |  CAST(a.d2_nano * 100
         |    // greatest(s.sum_nano // s.n_members, 1) AS BIGINT)
         |    AS ratio_x100, a.is_planted,
         |  a.d2_nano * 100 // greatest(s.sum_nano // s.n_members, 1)
         |    >= 225 AS is_outlier
         |FROM a JOIN stats s ON a.cluster = s.cluster""".stripMargin,

    "q_embedding_drift" ->
      s"""WITH ${ivfCoarseCtesOn("")},
         |pv AS (SELECT vec_id,
         |         CASE WHEN vec_id % 5 = 0 THEN list_reverse(e)
         |              ELSE e END AS e
         |       FROM v WHERE vec_id % 7 <> 3),
         |cv AS (SELECT vec_id, e FROM v WHERE vec_id % 13 <> 5),
         |${LloydSql.nearest("pa", "pv", "vec_id", "c2", 64)},
         |${LloydSql.nearest("ca", "cv", "vec_id", "c2", 64)},
         |g AS (SELECT cluster,
         |        SUM(CASE WHEN side = 'prev' THEN 1 ELSE 0 END) AS n_prev,
         |        SUM(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS n_cur
         |      FROM (SELECT 'prev' AS side, cluster FROM pa
         |            UNION ALL SELECT 'cur' AS side, cluster FROM ca)
         |      GROUP BY 1),
         |t AS (SELECT SUM(n_prev) AS tp, SUM(n_cur) AS tc FROM g),
         |wc AS (SELECT g.cluster, g.n_prev, g.n_cur, t.tp, t.tc,
         |         g.n_prev * t.tc - g.n_cur * t.tp AS num,
         |         CAST(t.tp * t.tc AS DOUBLE)
         |           * CAST(g.n_prev * t.tc + g.n_cur * t.tp AS DOUBLE)
         |           AS den
         |       FROM g, t),
         |cn AS (SELECT *, CAST(ROUND(CAST(num * num AS DOUBLE) / den
         |         * 1e9, 0) AS BIGINT) AS contrib_nano FROM wc),
         |ch AS (SELECT ROUND(SUM(contrib_nano) / 1e9, 6) AS chi2 FROM cn)
         |SELECT cn.cluster, CAST(cn.n_prev AS BIGINT) AS n_prev,
         |  CAST(cn.n_cur AS BIGINT) AS n_cur,
         |  ROUND(CAST(cn.n_prev AS DOUBLE) / CAST(cn.tp AS DOUBLE), 6)
         |    AS frac_prev,
         |  ROUND(CAST(cn.n_cur AS DOUBLE) / CAST(cn.tc AS DOUBLE), 6)
         |    AS frac_cur,
         |  ROUND(cn.contrib_nano / 1e9, 6) AS contrib, ch.chi2
         |FROM cn, ch""".stripMargin,

    "q_ann_recall_matryoshka" -> MatDims.map(d =>
      s"SELECT CAST($d AS BIGINT) AS dim, * FROM (\n" +
        recallOracle(truncTopkOracle(d), topkOracle) + "\n)")
      .mkString("\nUNION ALL\n"),
    "q_ann_lsh" -> lshOracle,
    "q_ann_ivf" -> ivfOracle,
    "q_bitext_mine" -> bitextOracle,
    "q_bitext_recall" -> bitextRecallOracle,
    "q_ann_ivf_indexed" -> ivfOracle,
    "q_ann_ivf_delta" -> ivfDeltaOracle,
    "q_ann_pq_delta" -> pqDeltaOracle,
    // triplet mining replayed: same rounded cosine, same (cos desc,
    // nid) rank inside the same-label / different-label partitions
    "q_hard_negatives" ->
      s"""WITH v AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |    CAST(label AS INT) AS label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |n AS (SELECT vec_id, label, e,
         |        sqrt(list_sum(list_transform(e, x -> x * x))) AS nn
         |      FROM v),
         |q AS (SELECT vec_id AS qid, label AS qlabel, e AS qe, nn AS qn
         |      FROM n WHERE vec_id % $QueryMod = 0 AND vec_id < $PanelCap),
         |s AS (SELECT q.qid, q.qlabel, x.vec_id AS nid, x.label,
         |        ROUND(list_sum(list_transform(range(1, 65),
         |            i -> q.qe[i] * x.e[i]))
         |          / greatest(q.qn * x.nn, 1e-12), 4) AS cos4
         |      FROM n x, q WHERE x.vec_id <> q.qid),
         |p AS (SELECT qid, qlabel, nid, cos4, ROW_NUMBER() OVER (
         |        PARTITION BY qid ORDER BY cos4 DESC, nid) AS rn
         |      FROM s WHERE label = qlabel),
         |g AS (SELECT qid, nid, cos4, ROW_NUMBER() OVER (
         |        PARTITION BY qid ORDER BY cos4 DESC, nid) AS rn
         |      FROM s WHERE label <> qlabel)
         |SELECT p.qid, p.qlabel AS label, p.nid AS pos_id,
         |  p.cos4 AS pos_cos4, g.nid AS neg_id, g.cos4 AS neg_cos4,
         |  ROUND(p.cos4 - g.cos4, 4) AS margin,
         |  ROUND(p.cos4 - g.cos4, 4) < 0.0 AS violation
         |FROM p JOIN g ON g.qid = p.qid AND g.rn = 1
         |WHERE p.rn = 1""".stripMargin,
    "q_dedup_embedding" -> dedupEmbeddingOracle,
    "q_ann_cosine_topk" -> topkOracle,
    "q_ann_recall_lsh" -> recallOracle(lshOracle, topkOracle),
    "q_ann_recall_delta" -> recallOracle(ivfDeltaOracle, topkOracle),
    "q_ann_recall_ivf" -> recallOracle(ivfOracle, topkOracle))
}
