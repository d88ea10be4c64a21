package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2 rows 32-33).
  *
  * Scale design: the query side is small (a sample / user-supplied set) and
  * is broadcast; the corpus side streams. Brute force is the exact baseline
  * (one broadcast-nested-loop over the corpus, no shuffle of the corpus);
  * the LSH variant replaces the full scan with a random-hyperplane bucket
  * equi-join so corpus rows only meet queries in their own bucket — that is
  * the 100 TB path.
  *
  * Hot arithmetic (dots, squared distances) is FLAT SCALAR getItem sums,
  * not `zip_with`+`aggregate` lambdas: higher-order functions are
  * CodegenFallback, and a fold interpreted once per JOINED PAIR (n x q
  * rows) dominated the round-4 bench (q_ann_cosine_topk 7.8 s,
  * q_ann_ivf 23.9 s). The scalar chain `((0 + t0) + t1) + ...` reproduces
  * the lambda fold's accumulation order bit-for-bit, so every oracle is
  * untouched. Per-ROW prep (norms, quantization) may stay in HOF form —
  * it runs once per corpus row, not once per pair.
  */
object Ann {

  /** Embedding width of the documents/embeddings testdata. */
  val DefaultDim = 64

  /** Native-kernel dot product over two array<double> columns — bit-equal
    * to the flat fold (0 + t0) + t1 ... and to the zip_with/aggregate
    * form, but one tiny generated call instead of ~4·dim inlined bytecode
    * ops (the flat form blew fused stages past the JIT's 8000-bytecode
    * compile limit — see [[graft.functions.ArrDotKernel]]). */
  private def dot(a: Column, b: Column, dim: Int): Column =
    graft.functions.ArrDot(a, b, dim)

  /** Cast a float embedding to double and attach its L2 norm. Flat scalar
    * projection (one getItem per element) so the stage stays inside
    * whole-stage codegen; values match the transform/aggregate form.
    *
    * The fixed-dim getItem projection would silently null out (short
    * array) or truncate (long array) a mismatched embedding — so the dim
    * contract is enforced here, once, for every ANN entry point: a row
    * whose embedding size differs from `dim` fails the query loudly. */
  private def withNorm(df: DataFrame, idCol: String, dim: Int): DataFrame = {
    // one guarded projection, then the flat getItems read the checked
    // column (not 2*dim inlined copies of the CASE)
    val guarded = df.select(col(idCol),
      when(size(col("embedding")) === dim, col("embedding"))
        .otherwise(raise_error(concat(
          lit(s"embedding size != $dim for $idCol="),
          col(idCol).cast("string")))).as("embedding"))
    val ei = (0 until dim).map(i => col("embedding").getItem(i).cast("double"))
    guarded.select(col(idCol).cast("long").as(idCol),
      array(ei: _*).as("e"),
      sqrt(ei.map(x => x * x).foldLeft(lit(0.0))(_ + _)).as("nrm"))
  }

  /** Exact brute-force cosine top-k: queries (small, driver-sized)
    * against the full corpus. Rank on round(cos,4) with id tie-break so
    * results are stable across engines and runs.
    *
    * MAP-ONLY scoring: the query matrix is collected (it was broadcast
    * before — same driver-sized contract) and embedded in a native
    * kernel expression (functions.CosineScores) that scores one corpus
    * row against every query in a tight queries x dim loop — the
    * broadcast-nested-loop join and its per-pair dim-term codegen
    * chains disappear; the plan is scan -> kernel -> explode -> top-k
    * aggregate, like IvfDistances' assignment. Arithmetic (fold order,
    * denominator, round-4) is bit-identical to the join form. */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 dim: Int = DefaultDim): DataFrame = {
    val c = withNorm(corpus, "vec_id", dim)
      .select(col("vec_id").as("nid"), col("e").as("ne"), col("nrm").as("nn"))
    val qrows = withNorm(queries, "vec_id", dim).collect().map(r =>
      (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    val scored = c
      .select(col("nid"), explode(graft.functions.CosineScores(
        col("nid"), col("ne"), col("nn"), qrows.toSeq, dim)).as("s"))
      .select(col("s.qid").as("qid"), col("nid"), col("s.cos4").as("cos4"))
    topKByCos(scored, k)
  }

  /** Per-query top-k on (cos4 DESC, nid ASC) via the bounded-heap
    * aggregate (functions.TopKAgg): identical selection and rank order
    * to `row_number() OVER (PARTITION BY qid ORDER BY cos4 DESC, nid)`,
    * but map-side partial aggregation collapses the scored candidates
    * to <= k rows per partition BEFORE the shuffle, where the window
    * sorted every candidate through one exchange. key = -cos4 (exact
    * double negation) makes ascending heap order the descending cosine
    * rank; `extra` columns (bucket/cluster) ride in the payload slot. */
  private def topKByCos(scored: DataFrame, k: Int, cosCol: String = "cos4",
                        extra: Option[String] = None): DataFrame = {
    val out = scored
      .groupBy("qid")
      .agg(graft.functions.TopKAgg(-col(cosCol), col("nid"),
        extra.map(col).getOrElse(lit(0L)), k).as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("pos", "t")))
      .select(Seq(col("qid"), col("t.tie").as("nid"),
        (col("pos") + 1).as("rank"), (-col("t.key")).as(cosCol)) ++
        extra.map(e => col("t.payload").as(e)): _*)
    out
  }

  /** Per-vector symmetric int8 scalar quantization: scale = 127/max|x_i|,
    * q_i = round(x_i * scale). The compressed form an embedding store
    * ships at scale — 8 bytes/dim -> 1, exact integer dot products (64
    * dims x 127^2 stays far under Long range, ANSI-safe), and the scale
    * never needs to be kept for cosine (it cancels in the ratio).
    * Per-row prep: the HOF transforms here run once per corpus row. */
  private def quantize(df: DataFrame, idCol: String): DataFrame =
    df.select(col(idCol).cast("long").as(idCol),
        transform(col("embedding"), x => x.cast("double")).as("e"))
      .withColumn("mx", array_max(transform(col("e"), x => abs(x))))
      .withColumn("q", transform(col("e"),
        x => round(x * 127.0 / greatest(col("mx"), lit(1e-12))).cast("long")))
      .withColumn("nq", aggregate(col("q"), lit(0L), (acc, v) => acc + v * v))

  /** Brute-force cosine top-k over int8-QUANTIZED vectors — the
    * compressed-index twin of cosineTopK (quality measured against it the
    * same way recallAtK measures LSH/IVF). Integer dots, one double
    * division at the end; rank on round(qcos,4) with id tie-break. */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    dim: Int = DefaultDim): DataFrame = {
    val c = quantize(corpus, "vec_id")
      .select(col("vec_id").as("nid"), col("q").as("nqv"), col("nq").as("nn"))
    // map-only integer scoring against the embedded query code matrix —
    // same kernel shape as cosineTopK (functions.IntDotScores)
    val qrows = quantize(queries, "vec_id").collect().map(r =>
      (r.getLong(0), r.getAs[Seq[Long]]("q").toArray, r.getAs[Long]("nq")))
    val scored = c
      .select(col("nid"), explode(graft.functions.IntDotScores(
        col("nid"), col("nqv"), col("nn"), qrows.toSeq, dim)).as("s"))
      .select(col("s.qid").as("qid"), col("nid"),
        col("s.qcos4").as("qcos4"))
    topKByCos(scored, k, cosCol = "qcos4")
  }

  /** IVF (inverted-file) index: a coarse k-means quantizer partitions the
    * corpus into nlist cells; a query probes only its nprobe nearest
    * cells and brute-forces within them. Seeds are the nlist smallest
    * vec_ids (deterministic); `iters` rounds of the shared [[Lloyd]]
    * trainer refine them.
    *
    * Assignment and probe selection read the sorted (d2, cluster) table
    * of the native [[graft.functions.IvfDistances]] kernel — a map-only
    * projection with the centroid model inside the expression. This
    * replaces the round-4 plan (crossJoin x nlist -> row_number window
    * over the expanded table, with an interpreted HOF distance) that cost
    * 23.9 s at sf0.1 and would full-shuffle a 16x-expanded corpus at
    * 100 TB. (A literal-inlined flat-scalar argmin was tried in between:
    * correct plan shape, but nlist x dim ~ 4k expression nodes spend
    * seconds per round in Janino — the kernel call keeps the generated
    * method tiny.)
    *
    * Selection is the lexicographic min of (round(d2,6), cluster) —
    * identical to the window form, so the DuckDB oracle is untouched. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nlist: Int,
              nprobe: Int, iters: Int, dim: Int = DefaultDim): DataFrame = {
    val (cents, indexed) = ivfTrainAssign(corpus, nlist, iters, dim)
    ivfProbeScore(indexed, queries, cents, k, nprobe, dim)
  }

  /** IVF index build: Lloyd-train the coarse quantizer and assign every
    * corpus vector to its cell. Returns (centroid model, indexed corpus
    * DataFrame with columns nid/ne/nn/cluster). The normed corpus is
    * cached for the seed collect and the Lloyd rounds only; the returned
    * plan re-derives the map-only norm projection once. */
  def ivfTrainAssign(corpus: DataFrame, nlist: Int, iters: Int,
                     dim: Int): (Seq[(Long, Array[Double])], DataFrame) =
    Lloyd.cached(withNorm(corpus, "vec_id", dim)) { c =>
      val seeds = Lloyd.smallestIds(c, "vec_id", col("e"), nlist)
      val cents = Lloyd.train(c, col("e"), IndexedSeq(seeds), dim, iters)
        .head
      (cents, assignCells(c, cents))
    }

  /** A [[withNorm]] table as an indexed corpus (nid, ne, nn, cluster):
    * every vector in its nearest cell of `cents`. */
  private def assignCells(normed: DataFrame, cents: Lloyd.Book): DataFrame =
    normed.select(col("vec_id").as("nid"), col("e").as("ne"),
      col("nrm").as("nn"), Lloyd.nearest(col("e"), cents).as("cluster"))

  /** INCREMENTAL index maintenance — the freshness story beside the
    * build/serve split (rows 68/74): a delta batch joins the standing
    * index WITHOUT retraining. The coarse quantizer stays FIXED
    * (trained on the base corpus — FAISS's add-after-train contract),
    * delta vectors are assigned map-only by the same IvfDistances
    * kernel, and serving reads base ∪ delta through the unchanged
    * probe path. At 100 TB this is the only sustainable shape: a crawl
    * lands every day, the quantizer retrains weekly at most, and the
    * in-between batches must become searchable with one map pass and
    * one bucketed append — never a training scan. Same-centroid
    * assignment means results are exactly what training-time assignment
    * of the union WOULD give for the delta rows (spec-pinned), so the
    * oracle extends the coarse replay with one delta-assign CTE. */
  def ivfDeltaTopK(base: DataFrame, delta: DataFrame, queries: DataFrame,
                   k: Int, nlist: Int, nprobe: Int, iters: Int,
                   dim: Int): DataFrame = {
    val (cents, baseIdx) = ivfTrainAssign(base, nlist, iters, dim)
    val dIdx = assignCells(withNorm(delta, "vec_id", dim), cents)
    ivfProbeScore(baseIdx.unionByName(dIdx), queries, cents, k, nprobe,
      dim)
  }

  /** IVF query path over an already-indexed corpus (from
    * [[ivfTrainAssign]] or a persisted index table). */
  def ivfProbeScore(indexed: DataFrame, queries: DataFrame,
                    cents: Seq[(Long, Array[Double])], k: Int,
                    nprobe: Int, dim: Int): DataFrame = {
    // one row per (query, probed cell); queries are tiny
    val probes = withNorm(queries, "vec_id", dim)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"),
        explode(Lloyd.nearestN(col("e"), cents, nprobe)).as("cluster"))
    val scored = indexed.join(broadcast(probes), Seq("cluster"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos4",
        round(dot(col("qe"), col("ne"), dim)
          / greatest(col("qn") * col("nn"), lit(1e-12)), 4))
    topKByCos(scored, k, extra = Some("cluster"))
      .select("qid", "nid", "rank", "cos4", "cluster")
  }

  /** Session-scoped COARSE-INDEX artifact: Lloyd-train + assign once
    * per (session, `table`/`path` namespace, nlist, iters, dim),
    * persisted as the cluster-bucketed corpus (nid, ne, nn, cluster) in
    * its own slot under `path`; every later call in the session serves
    * the bucketed table and the driver-held centroid model. The build
    * parameters are part of the key, so two callers asking one
    * namespace for different nlist get different quantizers. One
    * quantizer training per corpus per session is the 100 TB shape —
    * the r9 suite retrained the SAME nlist=16 quantizer from the same
    * seeds in four separate queries, and its serve path paid a parquet
    * read + collect of the model per query batch (q_ann_ivf_indexed
    * 1.35 → 2.31 s), which is why the model stays in the driver memo.
    * Training is deterministic, so sharing cannot change any answer. */
  def coarseIndex(corpus: DataFrame, nlist: Int, iters: Int, dim: Int,
                  table: String, path: String)
      : (Seq[(Long, Array[Double])], DataFrame) = {
    import graft.sources.{Artifacts, Bucketed}
    val spark = corpus.sparkSession
    val s = Artifacts.Slot(path, table).sub("coarse", nlist, iters, dim)
    Artifacts.once(spark, s) {
      val (cents, indexed) = ivfTrainAssign(corpus, nlist, iters, dim)
      Bucketed.writeBucketed(indexed, s.table, s.path, "cluster", 8)
      (cents, Bucketed.readBucketed(spark, s.table))
    }
  }

  /** IVF-PQ: product-quantization residual encoding on top of the IVF
    * coarse quantizer — the standard 100 TB ANN memory story (FAISS
    * IVF-PQ; Jégou et al. 2011, "Product Quantization for Nearest
    * Neighbor Search" — public literature). Each corpus vector is
    * stored as its cell id plus m sub-codes (here m bytes instead of
    * dim doubles): the residual x - centroid(cell) is split into m
    * dsub-wide subspaces, and each sub-vector quantizes to its nearest
    * entry of a per-subspace Lloyd-trained codebook.
    *
    * Scale design mirrors the coarse quantizer's: every codebook is
    * driver-sized BY CONSTRUCTION (m x ksub x dsub = m·ksub·dim/m =
    * ksub·dim doubles total — FAISS trains PQ codebooks centrally for
    * the same reason), so training collects only m·ksub·dsub-row
    * aggregates (one partial-aggregated shuffle per Lloyd round, ALL
    * subspaces trained in the same pass via one explode), and scoring
    * is ADC (asymmetric distance computation): the query keeps its
    * float residual per probed cell, each candidate costs m codebook
    * lookups + dim subtract-square terms against the m x ksub x dsub
    * literal embedded in the projection — map-only after the
    * cluster-bucket equi-join, inside whole-stage codegen, no
    * per-candidate decode of the original vector.
    *
    * Sub-code assignment reuses the IvfDistances kernel per subspace
    * (round(d2,6)-then-code lexicographic argmin), so the DuckDB oracle
    * replays training, encoding and ADC scoring exactly; approximate
    * distances rank ascending with nid tie-break. Codes are 0..ksub-1
    * by seed order (residuals of the ksub smallest ids). */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                nlist: Int, nprobe: Int, coarseIters: Int,
                m: Int, ksub: Int, pqIters: Int,
                dim: Int = DefaultDim): DataFrame = {
    val (cents, indexed) = ivfTrainAssign(corpus, nlist, coarseIters, dim)
    withPq(indexed, cents, m, ksub, pqIters, dim) { (books, enc) =>
      ivfPqScore(enc, queries, cents, books, k, nprobe, m, ksub, dim)
    }
  }

  /** Incremental IVF-PQ — [[ivfDeltaTopK]]'s compressed-index twin,
    * closing the index-maintenance story for BOTH served index kinds:
    * coarse quantizer AND codebooks train on the base corpus only, the
    * delta batch is assigned to the frozen cells and encoded with the
    * frozen codebooks (two map-only passes — the add-after-train
    * contract again, now for the artifact that actually persists at
    * 100 TB), and ADC serving reads base ∪ delta codes. */
  def ivfPqDeltaTopK(base: DataFrame, delta: DataFrame,
                     queries: DataFrame, k: Int, nlist: Int, nprobe: Int,
                     coarseIters: Int, m: Int, ksub: Int, pqIters: Int,
                     dim: Int = DefaultDim): DataFrame = {
    val (cents, baseIdx) = ivfTrainAssign(base, nlist, coarseIters, dim)
    withPq(baseIdx, cents, m, ksub, pqIters, dim) { (books, encBase) =>
      val dIdx = assignCells(withNorm(delta, "vec_id", dim), cents)
      val encDelta = pqEncode(pqResiduals(dIdx, cents, dim), books, dim / m)
      ivfPqScore(encBase.unionByName(encDelta), queries, cents, books, k,
        nprobe, m, ksub, dim)
    }
  }

  /** PQ build over an IVF-assigned corpus: residuals against the cell
    * centroids, cached while the m codebooks train (one [[Lloyd]] pass
    * per round for all subspaces; seeds are the residuals of the ksub
    * smallest ids sliced per subspace, codes = seed rank 0..ksub-1),
    * then `use` gets the books and the encoded index. The residual cache
    * is released when `use` returns. */
  private def withPq[T](indexed: DataFrame, cents: Lloyd.Book, m: Int,
                        ksub: Int, pqIters: Int, dim: Int)(
      use: (IndexedSeq[Lloyd.Book], DataFrame) => T): T = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val dsub = dim / m
    Lloyd.cached(pqResiduals(indexed, cents, dim)) { res =>
      val seeds = Lloyd.smallestIds(res, "nid", col("r"), ksub)
        .map(_._2).zipWithIndex
      val books = Lloyd.train(res, col("r"), (0 until m).map(s =>
        seeds.map { case (r0, j) =>
          (j.toLong, r0.slice(s * dsub, (s + 1) * dsub))
        }), dsub, pqIters)
      use(books, pqEncode(res, books, dsub))
    }
  }

  /** Driver-sized centroid model as a (cluster, ce) DataFrame — the
    * broadcast side of the residual join and the probe-residual join. */
  private def centroidsDf(spark: org.apache.spark.sql.SparkSession,
                          cents: Seq[(Long, Array[Double])]): DataFrame = {
    import spark.implicits._
    cents.map { case (cl, e) => (cl, e.toSeq) }.toDF("cluster", "ce")
  }

  /** Residual table (nid, cluster, r = x - centroid(cell)) of an
    * IVF-assigned corpus — the PQ training/encoding input. */
  private def pqResiduals(indexed: DataFrame, cents: Lloyd.Book,
                          dim: Int): DataFrame =
    indexed.join(broadcast(centroidsDf(indexed.sparkSession, cents)),
        "cluster")
      .select(col("nid"), col("cluster"),
        array((0 until dim).map(i =>
          col("ne").getItem(i) - col("ce").getItem(i)): _*).as("r"))

  /** The encoded index: cell id + m sub-codes per vector — the compact
    * artifact that persists at scale (codes are small ints; the float
    * vector is no longer needed for scoring). */
  private def pqEncode(res: DataFrame, books: IndexedSeq[Lloyd.Book],
                       dsub: Int): DataFrame =
    res.select(col("nid"), col("cluster"),
      Lloyd.encode(col("r"), books, dsub).as("codes"))

  /** ADC serving over an encoded index (from [[pqEncode]] or a persisted
    * index table): probe selection as in ivfProbeScore, the query's
    * residual against EACH probed cell's centroid (ADC is per-cell),
    * then a map-only codebook-literal distance after the cluster
    * equi-join. */
  def ivfPqScore(enc: DataFrame, queries: DataFrame,
                 cents: Seq[(Long, Array[Double])],
                 books: IndexedSeq[Seq[(Long, Array[Double])]],
                 k: Int, nprobe: Int, m: Int, ksub: Int,
                 dim: Int): DataFrame = {
    val dsub = dim / m
    val centDf = centroidsDf(enc.sparkSession, cents)
    val probes = withNorm(queries, "vec_id", dim)
      .select(col("vec_id").as("qid"), col("e").as("qe"),
        explode(Lloyd.nearestN(col("e"), cents, nprobe)).as("cluster"))
      .join(centDf, "cluster")
      .select(col("qid"), col("cluster"),
        array((0 until dim).map(i =>
          col("qe").getItem(i) - col("ce").getItem(i)): _*).as("qr"))
    // ADC distance as ONE kernel call (r19): the r18 form built a flat
    // m·dsub-term expression grid with the dense codebook literal
    // embedded per term — a ~190 KB expression the driver re-analyzed
    // per planning (plans/r19/q_ann_pq_{before,after}.txt); the kernel
    // replays the identical subspace-major ascending fold and the same
    // zero-filled dense codebook (graft.functions.AdcKernel scaladoc;
    // parity vs the grid form pinned by
    // [[graft.DedupAnnSpec.adcTermsExpr]]).
    val scored = enc.join(broadcast(probes), Seq("cluster"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("adist6",
        round(graft.functions.AdcScore(col("codes"), col("qr"),
          books, ksub, dsub), 6))
    scored.groupBy("qid")
      .agg(graft.functions.TopKAgg(col("adist6"), col("nid"),
        col("cluster"), k).as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("pos", "t")))
      .select(col("qid"), col("t.tie").as("nid"),
        (col("pos") + 1).as("rank"), col("t.key").as("adist6"),
        col("t.payload").as("cluster"))
  }

  /** PERSISTED-index IVF-PQ: the build/serve split the inline path
    * lacks. Build (once per session and build parameters): take the
    * coarse quantizer from [[coarseIndex]] under the same `table`/`path`
    * namespace (so the PQ index shares the session's coarse artifact
    * when nlist/iters match), PQ-train on its residuals, and write the
    * ENCODED index (nid, cluster, codes) as a cluster-bucketed parquet
    * table; centroids and the m codebooks stay in the driver memo.
    * Serve: [[ivfPqScore]] over the stored codes — NO training scan of
    * the corpus ever reruns for a query batch, which is the difference
    * between an ANN deployment and a benchmark artifact at 100 TB (a
    * serving query must read an index, not rebuild it). Results are
    * IDENTICAL to [[ivfPqTopK]] — indexing must never change answers —
    * so the oracle is the inline PQ oracle. */
  def ivfPqTopKIndexed(corpus: DataFrame, queries: DataFrame, k: Int,
                       nlist: Int, nprobe: Int, coarseIters: Int,
                       m: Int, ksub: Int, pqIters: Int,
                       table: String, path: String,
                       dim: Int = DefaultDim): DataFrame = {
    import graft.sources.{Artifacts, Bucketed}
    val spark = corpus.sparkSession
    val s = Artifacts.Slot(path, table)
      .sub("pq", nlist, coarseIters, m, ksub, pqIters, dim)
    val (cents, books, enc) = Artifacts.once(spark, s) {
      val (cents, indexed) = coarseIndex(corpus, nlist, coarseIters, dim,
        table, path)
      withPq(indexed, cents, m, ksub, pqIters, dim) { (books, enc) =>
        Bucketed.writeBucketed(enc, s.table, s.path, "cluster", 8)
        (cents, books, Bucketed.readBucketed(spark, s.table))
      }
    }
    ivfPqScore(enc, queries, cents, books, k, nprobe, m, ksub, dim)
  }

  /** Deterministic pseudo-random hyperplane component i of plane j. */
  def hyperplane(j: Int, dim: Int): Seq[Double] =
    (0 until dim).map(i => ((j * dim + i) * 2654435761L % 1000003L)
      / 1000003.0 - 0.5)

  /** Sign-bit bucket of `planes` deterministic random hyperplanes — a
    * native kernel expression (graft.functions.HyperplaneBucket) with
    * the same ascending-element fold order as the flat-scalar/zip_with
    * forms, so DuckDB's bucket replay is unchanged. The inlined
    * flat-scalar chain (planes x dim ~ 1k nodes) blew past Janino's
    * method limits and silently dropped the whole stage out of codegen. */
  private def hyperplaneBucket(e: Column, planes: Int, dim: Int): Column =
    graft.functions.HyperplaneBucket(e,
      (0 until planes).map(j => hyperplane(j, dim)))

  /** LSH variant: `planes` random hyperplanes -> sign-bit bucket; queries
    * and corpus meet only within a bucket. Returns per-query top-k among
    * bucket mates (approximate — trades recall for a bounded join). */
  def cosineTopKLsh(corpus: DataFrame, queries: DataFrame, k: Int,
                    planes: Int, dim: Int): DataFrame = {
    def bucket(e: Column): Column = hyperplaneBucket(e, planes, dim)
    val c = withNorm(corpus, "vec_id", dim)
      .select(col("vec_id").as("nid"), col("e").as("ne"), col("nrm").as("nn"),
        bucket(col("e")).as("bucket"))
    val q = withNorm(queries, "vec_id", dim)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"),
        bucket(col("e")).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cos4",
        round(dot(col("qe"), col("ne"), dim)
          / greatest(col("qn") * col("nn"), lit(1e-12)), 4))
    topKByCos(scored, k, extra = Some("bucket"))
      .select("qid", "nid", "rank", "cos4", "bucket")
  }

  /** Two-stage retrieval serving (shortlist -> exact refine): re-rank
    * an approximate shortlist with exact float cosine — the refine
    * stage a production deployment runs after a compressed-index scan
    * (FAISS's IndexRefineFlat shape, Jégou et al. 2011 §V). The
    * shortlist is queries x k' rows (tiny): it joins the driver-sized
    * query matrix and BROADCASTS into ONE corpus equi-join on nid, so
    * float vectors are read only for candidates — the corpus is never
    * float-scored whole (at 100 TB the refine touches k'·q rows, not
    * n·q). Guaranteed-recall property (spec-pinned): hits(rerank) =
    * |shortlist ∩ exact-top-k| >= hits(shortlist's own top-k), because
    * exact scoring can only promote true neighbors within the
    * candidate set. Scoring and rounding match cosineTopK exactly, so
    * the same recall monitor applies unchanged. */
  def rerankTopK(corpus: DataFrame, queries: DataFrame,
                 shortlist: DataFrame, k: Int,
                 dim: Int = DefaultDim): DataFrame = {
    val q = withNorm(queries, "vec_id", dim)
      .select(col("vec_id").as("qid"), col("e").as("qe"),
        col("nrm").as("qn"))
    val cand = shortlist.select(col("qid"), col("nid")).join(q, "qid")
    val c = withNorm(corpus, "vec_id", dim)
      .select(col("vec_id").as("nid"), col("e").as("ne"),
        col("nrm").as("nn"))
    val scored = c.join(broadcast(cand), Seq("nid"))
      .withColumn("cos4", round(dot(col("qe"), col("ne"), dim)
        / greatest(col("qn") * col("nn"), lit(1e-12)), 4))
    topKByCos(scored, k)
  }

  /** 1-bit sign quantization: bit i = 1 iff e_i > 0, packed into two
    * 32-bit half-words (w0 = dims 0..31, w1 = dims 32..63). The most
    * compressed index tier — 2 longs per vector, 32x smaller than
    * float64 — below int8 (quantize) and PQ codes in the compression
    * spectrum; similarity = Hamming distance, 2 xor + 2 popcounts per
    * pair. Both engines build each half-word as sum(bit_i * 2^i) with
    * i < 32, so the packed value stays far under Long range and no
    * sign-bit/overflow behavior is engine-dependent. */
  private def signPack(df: DataFrame, idCol: String, dim: Int): DataFrame = {
    require(dim <= 64, s"signPack supports dim <= 64, got $dim")
    val guarded = df.select(col(idCol),
      when(size(col("embedding")) === dim, col("embedding"))
        .otherwise(raise_error(concat(
          lit(s"embedding size != $dim for $idCol="),
          col(idCol).cast("string")))).as("embedding"))
    def word(lo: Int): Column =
      (lo until math.min(lo + 32, dim)).map(i =>
        when(col("embedding").getItem(i).cast("double") > 0.0,
          lit(1L << (i - lo))).otherwise(lit(0L)))
        .foldLeft(lit(0L))(_ + _)
    guarded.select(col(idCol).cast("long").as(idCol),
      word(0).as("w0"), word(32).as("w1"))
  }

  /** Brute-force Hamming top-k over sign-bit vectors — the binary twin
    * of quantizedTopK, quality measured the same way (recallAtK vs the
    * float brute force). Rank on (hamming ASC, nid ASC): exact integer
    * distance, no float rounding anywhere.
    *
    * Plan: scan -> pack projection -> broadcast nested-loop against the
    * driver-sized query matrix (2 longs per query — the cheapest
    * possible per-pair work, so no scoring kernel is needed) -> bounded
    * top-k aggregate. Map-side combine collapses candidates to <= k per
    * (partition x query) before the only shuffle. */
  def binaryTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 dim: Int = DefaultDim): DataFrame = {
    val c = signPack(corpus, "vec_id", dim)
      .select(col("vec_id").as("nid"), col("w0"), col("w1"))
    val q = signPack(queries, "vec_id", dim)
      .select(col("vec_id").as("qid"), col("w0").as("q0"),
        col("w1").as("q1"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .withColumn("ham", expr("bit_count(w0 ^ q0) + bit_count(w1 ^ q1)")
        .cast("long"))
    scored
      .groupBy("qid")
      .agg(graft.functions.TopKAgg(col("ham").cast("double"), col("nid"),
        col("ham"), k).as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("pos", "t")))
      .select(col("qid"), col("t.tie").as("nid"),
        (col("pos") + 1).as("rank"), col("t.payload").as("ham"))
  }

  /** Recall of an approximate top-k result against the exact one:
    * per-query overlap fraction of neighbor sets (rank-agnostic
    * recall@k). Both inputs are (qid, nid, ...) top-k tables; the
    * measurement is one equi-join + two tiny aggregations — cheap
    * enough to run continuously beside an ANN pipeline as an index
    * quality monitor. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int,
                overlap: Boolean = false): DataFrame = {
    // The exact baseline feeds BOTH the hit join and the n_exact
    // aggregate; without a lineage cut its whole subplan (a full exact
    // top-k over the corpus) executes twice inside the monitor —
    // measured as q_ann_recall_quantized's ~1.2 s of unexplained
    // overhead (2.52 s vs ~1.3 s for its parts, r7 verdict). The top-k
    // table is queries x k rows, so materializing it is ~free.
    // With overlap=true BOTH sides materialize CONCURRENTLY (r18 opt,
    // guide §2.6 — overlap independent jobs): the approx and exact
    // chains share no inputs below the monitor, and running the two
    // subplans from two driver threads lets the scheduler back-fill
    // one chain's stage tails with the other's tasks. Measured on
    // q_mmr_recall_indexed — the monitor whose two sides are both full
    // MMR chains — the row costs ~the slower chain instead of the sum
    // (5.6 → 3.4-3.8 s). Opt-in per call site: on the sub-2 s recall
    // rows the approx side's extra checkpoint job consistently COST
    // ~0.5-0.9 s across two full passes (the chain is cheaper than a
    // job round-trip), so the default keeps the approx side lazy
    // inside the final action. Results identical either way: the same
    // two tables feed the same join.
    val (ex, ap) =
      if (!overlap)
        (exact.select(col("qid"), col("nid")).localCheckpoint(),
          approx.select(col("qid"), col("nid")))
      else {
        val es = java.util.concurrent.Executors.newFixedThreadPool(2)
        try {
          val exF = es.submit(new java.util.concurrent.Callable[DataFrame] {
            def call(): DataFrame =
              exact.select(col("qid"), col("nid")).localCheckpoint()
          })
          val apF = es.submit(new java.util.concurrent.Callable[DataFrame] {
            def call(): DataFrame =
              approx.select(col("qid"), col("nid")).localCheckpoint()
          })
          (exF.get(), apF.get())
        } finally es.shutdown()
      }
    val hits = ap
      .join(ex, Seq("qid", "nid"))
      .groupBy("qid").agg(count(lit(1)).as("n_hits"))
    ex.groupBy("qid").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("n_exact"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double")
          / col("n_exact").cast("double"), 4).as("recall"))
  }

  /** Semantic dedup — the SemDeDup shape (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", public literature) over an ALREADY-ASSIGNED corpus
    * (nid, ne, nn, cluster): the IVF coarse quantizer clusters the
    * embedding space, and near-duplicates are looked for WITHIN
    * clusters only. The pairwise sweep is bounded by cluster size —
    * nlist grows with the corpus at scale (the paper runs 11k clusters
    * over 1.6B embeddings), so the corpus never meets itself whole.
    *
    * Duplicate rule (deterministic, oracle-replayable): a row is a
    * duplicate iff a LOWER-id row of the same cluster has
    * round(cos, 4) >= minCos; dup_of = the smallest such id (min-id
    * anchor, the same canonicalization the text near-dup pipeline
    * uses), keep = not a duplicate.
    *
    * The input feeds three consumers, so it must be materialized: the
    * session's shared [[coarseIndex]] artifact is a bucketed parquet
    * table; an [[ivfTrainAssign]] result needs a lineage cut first. */
  def semDedupOn(idx: DataFrame, minCos: Double,
                 dim: Int = DefaultDim): DataFrame = {
    val a = idx.select(col("cluster"), col("nid").as("ida"),
      col("ne").as("ea"), col("nn").as("na"))
    val b = idx.select(col("cluster"), col("nid").as("idb"),
      col("ne").as("eb"), col("nn").as("nb"))
    val anchors = a.join(b, Seq("cluster"))
      .filter(col("ida") < col("idb"))
      .filter(round(dot(col("ea"), col("eb"), dim)
        / greatest(col("na") * col("nb"), lit(1e-12)), 4) >= minCos)
      .groupBy(col("idb").as("vec_id"))
      .agg(min(col("ida")).as("dup_of"))
    idx.select(col("nid").as("vec_id"), col("cluster"))
      .join(anchors, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        col("dup_of").isNull.as("keep"))
  }

  /** Embedding-cosine near-dup PAIRS over the whole corpus — the dedup
    * counterpart of cosineTopKLsh: every (ida < idb) pair with
    * round(cos, 4) >= minCos among hyperplane-bucket mates. The bucket
    * equi-join bounds the self-join to bucket-local products (the
    * corpus never meets itself whole), which is the 100 TB path for
    * near-dup sweeps over embedding columns. */
  def cosineNearDupPairs(corpus: DataFrame, planes: Int, dim: Int,
                         minCos: Double): DataFrame = {
    val c = withNorm(corpus, "vec_id", dim)
      .withColumn("bucket", hyperplaneBucket(col("e"), planes, dim))
    val a = c.select(col("bucket"), col("vec_id").as("ida"),
      col("e").as("ea"), col("nrm").as("na"))
    val b = c.select(col("bucket"), col("vec_id").as("idb"),
      col("e").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("bucket"))
      .filter(col("ida") < col("idb"))
      .withColumn("cos4",
        round(dot(col("ea"), col("eb"), dim)
          / greatest(col("na") * col("nb"), lit(1e-12)), 4))
      .filter(col("cos4") >= minCos)
      .select("ida", "idb", "cos4", "bucket")
  }

  /** MMR diversity rerank (Maximal Marginal Relevance — Carbonell &
    * Goldstein 1998, public literature): the retrieval-quality step
    * between shortlist and serving that pure top-k lacks — a RAG
    * context window of k near-duplicate passages wastes its budget, so
    * the final k are picked GREEDILY by
    * `lambda * rel(q, d) - (1 - lambda) * max_{s in selected} sim(d, s)`.
    *
    * Scale shape: the expensive part is the shortlist (the existing
    * brute/ANN top-k machinery, corpus-sized); the rerank itself is
    * ROW-LOCAL — each query's shortlist collects to one bounded array
    * (S x dim doubles) and the k greedy steps run inside one HOF
    * aggregate, no shuffle, no driver loop. Selection order is
    * deterministic: scores round(…, 4), ties to the smaller id —
    * the DuckDB oracle replays the greedy chain as k unrolled CTEs
    * (window rn = 1 per step) over the same normalized doubles.
    * Requires shortlist >= k (the query panels guarantee it). */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, shortlist: Int,
                k: Int, lambda: Double, dim: Int = DefaultDim): DataFrame = {
    val top = cosineTopK(corpus, queries, shortlist, dim)
    mmrRerankOn(corpus, top, k, lambda, dim)
  }

  /** [[mmrRerank]]'s greedy stage over an ALREADY-COMPUTED shortlist
    * (qid, nid, cos4) — the composition point for index-served
    * shortlists (e.g. [[ivfPqTopKIndexed]]): production MMR sits on
    * top of the ANN index, not a fresh exact corpus scan per batch. */
  def mmrRerankOn(corpus: DataFrame, top: DataFrame, k: Int,
                  lambda: Double, dim: Int = DefaultDim): DataFrame = {
    // the exact-integer score space is tenth-granular by construction
    // (Li = lambda*10 must be whole): a lambda = 0.65 would silently
    // score as 0.7 — refuse it instead (ADVICE r17)
    require(math.abs(lambda * 10 - math.round(lambda * 10)) < 1e-9,
      s"mmrRerank: lambda must be a multiple of 0.1 (the x1e5 integer " +
        s"score space is tenth-granular); got $lambda")
    // unit-normalized corpus vectors: pairwise sim inside the greedy
    // loop is then a plain dot, computed once per (candidate, selected)
    val cn = withNorm(corpus, "vec_id", dim)
      .select(col("vec_id").as("nid"),
        transform(col("e"),
          x => x / greatest(col("nrm"), lit(1e-12))).as("en"))
    val arr = top.join(cn, Seq("nid"))
      .groupBy("qid")
      .agg(array_sort(collect_list(struct(col("rank"), col("nid"),
        col("cos4"), col("en")))).as("arr"))
    // score in EXACT INTEGER space (x1e5): lambda = 0.7 makes the MMR
    // combination 7*cos_x1e4 - 3*maxsim_x1e4 — a double-space
    // round(0.7*c - 0.3*m, 4) flickered at the .5 boundary between
    // engines (measured at sf0.01), integers cannot
    val Li = math.round(lambda * 10).toInt
    val Mi = 10 - Li
    // NATIVE greedy selection (r18 opt): the nested-HOF form
    // ([[graft.Round18Spec.mmrSelectHof]], the parity oracle)
    // interpreted k x shortlist x selected dim-wide zip_with dots per
    // query — the MMR
    // rows' dominant cost. functions.MmrSelect runs the identical
    // integer-space selection in one compiled kernel call per query
    // row (bit-equal by construction AND spec-pinned), so the
    // projection stays inside whole-stage codegen.
    arr.select(col("qid"),
      explode(graft.functions.MmrSelect(col("arr"), k, Li, Mi, dim))
        .as("s"))
      .select(col("qid"), col("s.sr").cast("long").as("sel_rank"),
        col("s.nid").as("nid"), col("s.cos4").as("cos4"),
        col("s.mmr5").as("mmr_x1e5"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, "Margin-based
    * Parallel Corpus Mining with Multilingual Sentence Embeddings" —
    * public literature; the LASER/CCMatrix pipeline shape): candidate
    * translation pairs between two embedding corpora scored not by raw
    * cosine but by the DISTANCE margin
    * `margin(x,y) = cos(x,y) − (r(x) + r(y)) / 2`, where r(v) is the
    * mean cosine of v's k nearest neighbors on the OTHER side — hubness
    * correction: a vector that is close to everything (a hub) gets its
    * neighborhood density subtracted, so only pairs that are close
    * SPECIFICALLY to each other mine. Forward best = argmax-margin tgt
    * per src; `mutual` marks pairs that are also their tgt's backward
    * argmax (the intersection criterion the paper's retrieval variant
    * uses).
    *
    * Scale shape: NEVER all-pairs. Each side gets its own coarse IVF
    * quantizer (the session precedent: nlist-cell Lloyd, driver-sized
    * centroid model); every src row is assigned map-only to its nprobe
    * nearest TGT cells (IvfDistances kernel — no crossJoin) and meets
    * only those cells' rows through a cluster equi-join — the SemDeDup
    * bound applied across two corpora. kNN lists, margins, and both
    * argmaxes are bounded-heap aggregates (TopKAgg), map-side combined.
    * At 100 TB both sides stream through 2/nlist of the other side —
    * the approximate-kNN trade every production miner makes (the paper
    * itself mines with approximate FAISS search).
    *
    * Float determinism: the margin is computed over EXACT INTEGER
    * top-k sums — each neighbor cosine enters as round(cos4·10⁴) (a
    * long, so the k-sum is order-independent), r(v) = that sum / k_eff
    * (one IEEE division), and the ranking key
    * `round(cos4·10⁴) − (r(x)+r(y))/2` is bit-identical in any engine
    * that replays the same ops — ties break on the smaller candidate
    * id. Output margin is reported in cosine units (round 6). */
  def bitextMine(src: DataFrame, tgt: DataFrame, k: Int, nlistSrc: Int,
                 nlistTgt: Int, nprobe: Int, iters: Int,
                 dim: Int = DefaultDim): DataFrame = {
    // DEGENERATE (nlist=1 both sides) = the EXACT all-pairs baseline the
    // recall row runs. Backward cosines are then the bit-exact TRANSPOSE
    // of the forward table (dot and the norm product are term-by-term
    // commutative, summation order identical), so the second all-pairs
    // scan — and the src-side quantizer train feeding it — is never run
    // (r18 opt: q_bitext_recall computed every cosine twice).
    val degenerate = nlistSrc == 1 && nlistTgt == 1
    // per-side coarse quantizers + assigned indexes (nid, ne, nn,
    // cluster); lineage cut once — four consumers read each. In the
    // degenerate mode the single cluster holds EVERYTHING whatever the
    // centroid values are, so the Lloyd train (seed collect + iters
    // recenter jobs per side) is dead weight — both sides get a literal
    // cluster id and the train never runs. Membership, and therefore
    // every pair, is identical either way.
    val (centsT, idxT) =
      if (degenerate)
        (Seq.empty[(Long, Array[Double])],
          withNorm(tgt, "vec_id", dim)
            .select(col("vec_id").as("nid"), col("e").as("ne"),
              col("nrm").as("nn"), lit(0L).as("cluster"))
            .localCheckpoint())
      else {
        val (ct, idxT0) = ivfTrainAssign(tgt, nlistTgt, iters, dim)
        (ct, idxT0.localCheckpoint())
      }
    val (centsS, idxS) =
      if (degenerate) (Seq.empty[(Long, Array[Double])], idxT)
      else {
        val (cs, idxS0) = ivfTrainAssign(src, nlistSrc, iters, dim)
        (cs, idxS0.localCheckpoint())
      }
    // EXPANSION-AWARE exchange grain for the pair-scoring joins (r18,
    // measured): the cluster join expands ~nprobe·|probe|·cellsize
    // rows of ~2·dim doubles — ~1000x its INPUT bytes at the second
    // decade — so the engine's input-proportional grain (graft.Tune
    // sizes exchanges by what is READ) undersizes exactly this
    // exchange: at 100x (200k vectors/side) the 55.9M candidate pairs
    // landed on 32 partitions, ~1.7 GB of joined rows per task, and
    // spilled 9.8 GB mem / 1.8 GB disk (first r18 decade pass).
    // The operator KNOWS its expansion in closed form before the join
    // runs — that knowledge, not input size, sizes the exchange:
    // ~100k pairs (~100 MB of qe+ne rows) per partition, capped at
    // 2048. Two bounded count()s on the checkpointed indexes; pure
    // layout, so results are untouched at any sf.
    val nT = idxT.count()
    val nS = if (degenerate) src.count() else idxS.count()
    val minParts = src.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt.toLong
    def partsFor(probeN: Long, cellRows: Long): Int =
      math.min(2048L, math.max(minParts,
        nprobe.toLong * probeN * math.max(cellRows, 1L) / 100000L)).toInt
    // map-only probe assignment of a WHOLE side against the other
    // side's centroid model — corpus-scale queries, so no driver
    // collection and no broadcast of the probe side: the kernel ships
    // the tiny model, the join is a plain cluster equi-join
    def probesOf(side: DataFrame, cents: Seq[(Long, Array[Double])]) =
      withNorm(side, "vec_id", dim)
        .select(col("vec_id").as("qid"), col("e").as("qe"),
          col("nrm").as("qn"),
          (if (degenerate) lit(0L)
           else explode(Lloyd.nearestN(col("e"), cents, nprobe)))
            .as("cluster"))
    // nlist=1 (the exact baseline): the cluster key is a CONSTANT, so
    // hash-partitioning by it lands EVERY pair expansion on one task and
    // the checkpointed index's unknown size estimate blocks the auto-
    // broadcast — measured 47.6 s for q_bitext_recall at sf0.1, both
    // all-pairs scans single-threaded. Round-robin the probe side over
    // the expansion-aware grain and broadcast the (eval-scale by
    // contract) index side instead: the dots parallelize, no pair
    // shuffle at all. The clustered path is unchanged.
    def scoredPairs(index: DataFrame, probes: DataFrame, np: Int,
                    constKey: Boolean) = {
      // BOTH sides land on the expansion-aware grain: the index side is
      // a localCheckpoint whose partition count is the PARQUET SCAN's
      // (1 at the bench sfs), and when AQE broadcasts the probe side the
      // join's output partitioning IS the index side's — measured 2.4 s
      // single-task pair stages (r18). Repartitioning the index by the
      // join key keeps the pair expansion + dot work at np-way
      // parallelism whichever side AQE broadcasts.
      val pr = if (constKey) probes.repartition(np)
        else probes.repartition(np, col("cluster"))
      val ix = if (constKey) broadcast(index)
        else index.repartition(np, col("cluster"))
      ix.join(pr, Seq("cluster"))
        .select(col("qid"), col("nid"),
          round(dot(col("qe"), col("ne"), dim)
            / greatest(col("qn") * col("nn"), lit(1e-12)), 4).as("cos4"))
    }
    val d1 = scoredPairs(idxT, probesOf(src, centsT),
      partsFor(nS, nT / math.max(nlistTgt, 1)), nlistTgt == 1)
      .localCheckpoint() // r(x) aggregate + forward margin share it
    // degenerate: projection of d1's checkpointed blocks — no second
    // all-pairs job, no second checkpoint copy
    val d2 =
      if (degenerate)
        d1.select(col("nid").as("qid"), col("qid").as("nid"), col("cos4"))
      else scoredPairs(idxS, probesOf(tgt, centsS),
        partsFor(nT, nS / math.max(nlistSrc, 1)), nlistSrc == 1)
        .localCheckpoint() // r(y) aggregate + backward margin share it
    // r(v): EXACT-INTEGER sum of the top-k round-4 cosines (×1e4 →
    // longs; order-independent) plus the actual neighbor count
    def knnScaledSum(d: DataFrame) = d
      .groupBy("qid")
      .agg(graft.functions.TopKAgg(-col("cos4"), col("nid"),
        col("nid"), k).as("beam"))
      .select(col("qid"),
        aggregate(transform(col("beam"),
            b => round(-b.getField("key") * 10000.0).cast("long")),
          lit(0L), (acc, v) => acc + v).as("rsum"),
        size(col("beam")).cast("long").as("keff"))
    val rX = knnScaledSum(d1).select(col("qid").as("xid"),
      col("rsum").as("rsx"), col("keff").as("kx"))
    val rY = knnScaledSum(d2).select(col("qid").as("yid"),
      col("rsum").as("rsy"), col("keff").as("ky"))
    // margin in the ×1e4 integer-anchored space; the two divisions and
    // the subtraction are single IEEE ops over bit-pinned inputs.
    // The margin chain's two join exchanges carry the FULL candidate
    // table (pairs × ~30 B) keyed xid then yid — the r18 grain sized
    // only the pair-scoring join, and at 100× AQE coalesced these to
    // ~34 tasks whose SMJ sorts spilled 1-3.5 GB (r19 stage table).
    // The operator knows the candidate volume in
    // closed form, so the same expansion-aware grain (npM, capped like
    // partsFor, = cpus at the bench sfs — plan unchanged there) sizes
    // them; pure layout, results untouched.
    val npM = math.min(2048L, math.max(minParts,
      (nprobe.toLong * nS * math.max(nT / math.max(nlistTgt, 1), 1L) +
        nprobe.toLong * nT * math.max(nS / math.max(nlistSrc, 1), 1L))
        / 200000L)).toInt
    // no-op at the bench sfs (npM == the engine floor there — AQE keeps
    // its broadcast freedom and no exchange is added); explicit grain
    // only when the known expansion exceeds it
    def grained(df: DataFrame, key: Column): DataFrame =
      if (npM > minParts) df.repartition(npM, key) else df
    def withMargin(pairs: DataFrame) = grained(
      grained(pairs, col("xid")).join(rX, Seq("xid")), col("yid"))
      .join(rY, Seq("yid"))
      .withColumn("c4s", round(col("cos4") * 10000.0).cast("long"))
      .withColumn("mrg", col("c4s").cast("double")
        - (col("rsx").cast("double") / col("kx").cast("double")
          + col("rsy").cast("double") / col("ky").cast("double")) / 2.0)
    def bestBy(m: DataFrame, idc: String, otherc: String) = m
      .groupBy(idc)
      .agg(graft.functions.TopKAgg(-col("mrg"), col(otherc),
        col("c4s"), 1).as("tk"))
      .select(col(idc),
        element_at(col("tk"), 1).getField("tie").as(otherc),
        (-element_at(col("tk"), 1).getField("key")).as("mrg"),
        element_at(col("tk"), 1).getField("payload").as("c4s"))
    val fwd = bestBy(withMargin(d1.select(col("qid").as("xid"),
      col("nid").as("yid"), col("cos4"))), "xid", "yid")
    val bwd = bestBy(withMargin(d2.select(col("qid").as("yid"),
      col("nid").as("xid"), col("cos4"))), "yid", "xid")
      .select(col("yid"), col("xid").as("bx"))
    // margin reported UNROUNDED in the ×1e4 space: with k_eff ∈
    // {1,2,4} it is an exact dyadic (multiple of 2⁻³) that lands ON
    // decimal-half boundaries, where Spark's BigDecimal HALF_UP and a
    // multiply-then-round engine disagree by one ulp (measured at
    // sf0.01: 0.008088 vs 0.008087) — the MMR mmr_x1e5 rule: when the
    // arithmetic is bit-pinned on both sides, rounding only ADDS a
    // divergence channel
    fwd.join(bwd, Seq("yid"), "left")
      .select(col("xid").as("src_id"), col("yid").as("tgt_id"),
        round(col("c4s").cast("double") / 10000.0, 4).as("cos4"),
        col("mrg").as("margin_x1e4"),
        coalesce(col("bx") === col("xid"), lit(false)).as("mutual"))
  }
}
