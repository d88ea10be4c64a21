package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.operators.Bpe

/** Retrieval / tokenization pipeline queries over the documents table:
  * RAG chunking, count-min-sketch heavy hitters, and BPE encoding with
  * learned merges. The reference (gpd_lite_toolbox) has no text surface —
  * these extend the engine for large-scale training-data pipelines.
  * Oracles mirror every expression tree exactly (SURVEY.md §3).
  */
object RetrievalQueries {

  // the same spread documents frame TextQueries builds its suffix
  // index over (the FM rows serve from that one artifact)
  import TextQueries.docs

  // ------------------------------------------------------------- chunking

  private val ChunkSize = 16
  private val ChunkStride = 12

  /** RAG document chunking: overlapping token windows of ChunkSize with
    * stride ChunkStride (the standard embed-index preprocessing step).
    * One map-only pass: tokenize once per doc, generate chunk starts with
    * `sequence`, slice the token array per start — no shuffle at all;
    * at 100 TB this is a pure scan→explode stage whose output partitions
    * inherit the input split. Each chunk row pins its extent (n_tok,
    * n_chars) and boundary tokens, so the hash compare verifies the
    * exact slicing. */
  def qChunkDocs(spark: SparkSession, dir: String): DataFrame = {
    val arr = filter(split(lower(col("text")), "\\W+"),
      c => length(c) > lit(0))
    val withA = docs(spark, dir).select(col("doc_id"), arr.as("a"))
      .where(size(col("a")) > 0)
    withA
      .select(col("doc_id"), col("a"),
        explode(sequence(lit(0), size(col("a")) - 1,
          lit(ChunkStride))).as("st"))
      .select(col("doc_id"),
        (col("st") / ChunkStride).cast("long").as("chunk_id"),
        slice(col("a"), col("st") + 1, lit(ChunkSize)).as("ch"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("ch")).cast("long").as("n_tok"),
        aggregate(col("ch"), lit(0L),
          (acc, w) => acc + length(w)).as("n_chars"),
        element_at(col("ch"), 1).as("first_w"),
        element_at(col("ch"), -1).as("last_w"))
  }

  // -------------------------------------------------- count-min heavy hitters

  private val CmsP = 1000000007L
  private val CmsWidth = 512L
  private val CmsRows: Seq[(Long, Long)] =
    Seq((31L, 7L), (131L, 11L), (1009L, 13L), (65599L, 17L))
  private val CmsProbes: Seq[String] = Seq(
    "the", "and", "of", "data", "model", "training", "quality",
    "random", "protocol", "zebra")

  /** Count-min-sketch heavy-hitter estimation — the bounded-memory way to
    * get token frequencies at 100 TB, where an exact vocabulary groupBy
    * has unbounded key space. The sketch build is ONE aggregate over the
    * token stream with a FIXED 4×512-cell key space (each occurrence
    * posts into 4 buckets via independent affine hashes of the rolling
    * fingerprint), so map-side combine collapses every partition to ≤2048
    * rows regardless of corpus size. Estimates for the probe words =
    * min over the 4 bucket counts (missing bucket = 0); the exact counts
    * joined alongside are the verification harness, not part of the
    * production shape. Overestimate ≥ 0 always — the CMS guarantee. */
  def qHeavyHittersCms(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(explode(split(lower(col("text")), "\\W+")).as("w"))
      .where(length(col("w")) > 0)

    def buckets(h: org.apache.spark.sql.Column) =
      array(CmsRows.zipWithIndex.map { case ((a, b), i) =>
        struct(lit(i).as("i"),
          (((lit(a) * h + lit(b)) % CmsP) % CmsWidth).as("bk"))
      }: _*)

    // ONE corpus scan, ONE shuffle: the exact-count verification rides
    // INSIDE the sketch aggregate as ten conditional counters — probe
    // word p's occurrences all land in cell (i, bk_i(p)) for every row
    // i, so within any one of p's own cells the conditional count IS
    // p's exact corpus count, and max() over all cells recovers it
    // (non-matching cells contribute 0). The r8 shape scanned +
    // tokenized the corpus once PER CONSUMER; a localCheckpoint of the
    // raw token table measured a wash at sf0.1 (saves the rescan, pays
    // materializing every token row — at 100 TB the worse trade), and a
    // grouping-sets variant paid a 2x Expand on the exploded rows. This
    // form keeps the hot path IDENTICAL to the sketch-only aggregate
    // (10 extra codegen'd counters in the same hash buffer); map-side
    // combine still bounds the shuffle at <= 2048 rows per partition.
    val aggCols = count(lit(1)).as("c") +:
      CmsProbes.zipWithIndex.map { case (p, j) =>
        count(when(col("w") === p, 1)).as(s"e$j") }
    val g = toks
      .select(col("w"),
        explode(buckets(rollingFingerprint(col("w")))).as("x"))
      .select(col("w"), col("x.i").as("i"), col("x.bk").as("bk"))
      .groupBy("i", "bk")
      .agg(aggCols.head, aggCols.tail: _*)
      // BOTH branches below consume this aggregate; the lineage cut
      // makes the corpus scan run once, and is ~free because the
      // aggregate is bounded at 4x512 rows BY CONSTRUCTION
      .localCheckpoint()
    val sketch = g.select("i", "bk", "c")
    val stackArgs = CmsProbes.zipWithIndex
      .map { case (p, j) => s"'$p', m$j" }.mkString(", ")
    val exact = g
      .groupBy()
      .agg(max(col("e0")).as("m0"),
        CmsProbes.indices.tail.map(j => max(col(s"e$j")).as(s"m$j")): _*)
      .select(expr(s"stack(${CmsProbes.size}, $stackArgs)")
        .as(Seq("w", "exact")))

    val probes = docs(spark, dir).sparkSession
      .createDataFrame(CmsProbes.map(Tuple1(_))).toDF("w")
    val probeBuckets = probes
      .select(col("w"),
        explode(buckets(rollingFingerprint(col("w")))).as("x"))
      .select(col("w"), col("x.i").as("i"), col("x.bk").as("bk"))
    val est = probeBuckets
      .join(sketch, Seq("i", "bk"), "left")
      .groupBy("w")
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))

    est.join(exact, Seq("w"), "left")
      .select(col("w"),
        coalesce(col("exact"), lit(0L)).as("exact"),
        col("est").cast("long").as("est"),
        (col("est") - coalesce(col("exact"), lit(0L)))
          .cast("long").as("overcount"))
      .orderBy("w")
  }

  // ----------------------------------------------------- retrieval eval

  private val EvalTerms = Seq("data", "join", "hash", "vector",
    "stream", "window")
  private val EvalK = 10

  /** Retrieval-quality evaluation harness (MRR@10 / NDCG@10 /
    * precision@10) over per-term BM25 rankings — the eval loop every
    * retrieval/RAG pipeline runs beside its index. Six single-term
    * queries; graded relevance derives deterministically from the
    * corpus itself (rel = min(tf-1, 2): a doc that merely mentions the
    * term once is retrieved-but-irrelevant, repeated use grades up) so
    * both engines label identically with no side file. ONE corpus scan:
    * doc length + per-term tf as conditional counters in a single
    * aggregate (the CMS pattern), localCheckpoint lineage cut, then
    * every downstream table is bounded by docs-with-term. Rankings
    * round BM25 scores to 4 BEFORE ranking (cross-engine rank
    * stability); DCG's 2^rel terms are exact, log2 follows the
    * ACOS-in-oracle precedent with round(4) on the final ratio. IDCG
    * ranks ALL relevant docs by grade (ideal order), so NDCG is a true
    * [0,1] normalization. */
  def qRetrievalEval(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), lower(col("text")).as("t"))
    val toks = d.select(col("doc_id"),
      explode(split(col("t"), "\\W+")).as("w"))
      .where(length(col("w")) > 0)
    val tfCols = EvalTerms.zipWithIndex.map { case (t, i) =>
      sum(when(col("w") === t, 1L).otherwise(0L)).as(s"tf$i") }
    val perDoc = toks.groupBy("doc_id")
      .agg(count(lit(1)).as("len"), tfCols: _*)
      .localCheckpoint()
    val stats = perDoc.agg(count(lit(1)).as("n"),
      sum("len").cast("double").as("total_len"))
    val tf = perDoc
      .select(col("doc_id"), col("len"),
        explode(array(EvalTerms.zipWithIndex.map { case (t, i) =>
          struct(lit(t).as("q"), col(s"tf$i").as("tf")) }: _*)).as("e"))
      .select(col("doc_id"), col("len"),
        col("e.q").as("q"), col("e.tf").as("tf"))
      .where(col("tf") > 0)
    val dfT = tf.groupBy("q").agg(count(lit(1)).as("df"))
    val term = col("tf").cast("double")
    val idf = log(lit(1.0) + (col("n").cast("double") - col("df") + 0.5)
      / (col("df") + 0.5))
    val norm = lit(1.2) * (lit(1.0 - 0.75)
      + lit(0.75) * col("len").cast("double")
        * col("n").cast("double") / col("total_len"))
    val scored = tf
      .join(broadcast(dfT), "q")
      .crossJoin(broadcast(stats))
      .withColumn("s4",
        round(idf * term * lit(1.2 + 1.0) / (term + norm), 4))
      .withColumn("rel", least(col("tf") - lit(1L), lit(2L)))
      .localCheckpoint() // feeds the ranking AND the ideal-order IDCG
    val ranked = scored.groupBy("q")
      .agg(graft.functions.TopKAgg(-col("s4"), col("doc_id"),
        col("rel"), EvalK).as("tk"))
      .select(col("q"), posexplode(col("tk")).as(Seq("pos", "t")))
      .select(col("q"), (col("pos") + 1).cast("long").as("rank"),
        col("t.payload").as("rel"))
    val dcgTerm = (pow(lit(2.0), col("rel").cast("double")) - lit(1.0)) /
      log2(col("rank").cast("double") + lit(1.0))
    val perQ = ranked.groupBy("q").agg(
      sum(dcgTerm).as("dcg"),
      max(when(col("rel") >= 1, lit(1.0) / col("rank").cast("double"))
        .otherwise(lit(0.0))).as("mrr"),
      sum(when(col("rel") >= 1, 1L).otherwise(0L)).as("n_rel_ret"))
    val ideal = scored.where(col("rel") >= 1)
      .groupBy("q")
      .agg(count(lit(1)).as("n_rel"),
        graft.functions.TopKAgg(-col("rel").cast("double"),
          col("doc_id"), lit(0L), EvalK).as("tk"))
    val idcg = ideal
      .select(col("q"), col("n_rel"),
        posexplode(col("tk")).as(Seq("pos", "t")))
      .select(col("q"), col("n_rel"),
        (col("pos") + 1).cast("long").as("rank"), (-col("t.key")).as("rel"))
      .groupBy("q", "n_rel")
      .agg(sum((pow(lit(2.0), col("rel")) - lit(1.0)) /
        log2(col("rank").cast("double") + lit(1.0))).as("idcg"))
    perQ.join(idcg, Seq("q"), "left")
      .select(col("q").as("query"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        col("n_rel_ret"),
        round(col("mrr"), 4).as("mrr10"),
        round(col("n_rel_ret") / lit(10.0), 4).as("prec10"),
        round(when(coalesce(col("idcg"), lit(0.0)) > 0.0,
          col("dcg") / col("idcg")).otherwise(lit(0.0)), 4).as("ndcg10"))
  }

  // --------------------------------------------------- HyperLogLog distinct

  private val HllP = 2147483647L
  private val HllM = 512L

  /** HyperLogLog distinct-token estimation per language — the
    * bounded-memory cardinality twin of the CMS frequency sketch: at
    * 100 TB an exact per-language vocabulary count shuffles the whole
    * key set, while HLL's register table is FIXED at 512 rows per
    * language no matter the corpus (map-side combined max per
    * register). Engine-portable statistic: token fingerprint mixed by
    * the simhash multiplier mod 2^31-1; register = h mod 512; rank =
    * trailing zeros of h div 512, plus one (bit_count(v XOR v-1) —
    * exact integer ops both engines), 23 when the suffix is all-zero.
    * The harmonic sum is a sum of dyadic rationals 2^-m (m <= 23) over
    * <= 512 registers — EXACT in a double regardless of accumulation
    * order, so the estimate needs no ordered-sum discipline. The exact
    * distinct count rides the SAME one distinct exchange (localCheckpoint
    * lineage cut) as the verification harness, the CMS pattern. The
    * small-range linear-counting correction (raw <= 2.5m and zeros > 0
    * -> m*ln(m/zeros), Flajolet et al. 2007) IS applied — without it a
    * sparse register file overestimates ~12x; ln + round(4) follows the
    * q_crs_distance ACOS precedent for transcendentals in oracles. */
  /** One scan → (distinct hashed tokens, per-lang register file). The
    * register file is the persistable sketch artifact both q_hll_distinct
    * and the union algebra read. */
  private def hllDistRegs(spark: SparkSession,
                          dir: String): (DataFrame, DataFrame) = {
    val toks = docs(spark, dir)
      .select(col("lang"),
        explode(split(lower(col("text")), "\\W+")).as("w"))
      .where(length(col("w")) > 0)
    val hm = (rollingFingerprint(col("w")) * lit(2654435761L)) % lit(HllP)
    // ONE distinct exchange feeds registers AND the exact verification
    val dist = toks.select(col("lang"), hm.as("h")).distinct()
      .localCheckpoint()
    val reg = dist
      .select(col("lang"), (col("h") % lit(HllM)).as("j"),
        expr(s"h DIV $HllM").as("v"))
      .select(col("lang"), col("j"),
        when(col("v") === 0L, lit(23L))
          .otherwise(bit_count(col("v").bitwiseXOR(col("v") - lit(1L)))
            .cast("long")).as("r"))
      .groupBy("lang", "j").agg(max(col("r")).as("m"))
    (dist, reg)
  }

  /** Flajolet 2007 estimate from a (keys..., j, m) register table —
    * harmonic mean + the small-range linear-counting branch. Returns
    * (keys..., zeros, est). */
  private def hllEst(regs: DataFrame, keys: Seq[String]): DataFrame = {
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(512.0))
    regs.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("nhit"),
        sum(pow(lit(2.0), -col("m"))).as("hs"))
      .select(keys.map(col) :+ (lit(HllM) - col("nhit")).as("zeros") :+
        (alpha * lit(512.0) * lit(512.0)
          / (col("hs") + (lit(HllM) - col("nhit")).cast("double")))
          .as("raw"): _*)
      .select(keys.map(col) :+ col("zeros") :+
        round(when(col("zeros") > 0 && col("raw") <= lit(2.5) * lit(512.0),
          lit(512.0) * log(lit(512.0) / col("zeros").cast("double")))
          .otherwise(col("raw")), 4).as("est"): _*)
  }

  def qHllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val (dist, reg) = hllDistRegs(spark, dir)
    val hll = hllEst(reg, Seq("lang"))
      .withColumnRenamed("est", "est_distinct")
    val exact = dist.groupBy("lang")
      .agg(count(lit(1)).as("exact_distinct"))
    hll.join(exact, "lang")
      .select(col("lang"), col("zeros").cast("long").as("zeros"),
        col("est_distinct"), col("exact_distinct"),
        round(abs(col("est_distinct") - col("exact_distinct"))
          / col("exact_distinct") * lit(100.0), 2).as("err_pct"))
  }

  /** Sketch ALGEBRA — the property that justifies sketches at 100 TB:
    * per-language register files persist once, and any cross-corpus
    * question afterwards is register arithmetic, never a re-scan.
    * Union cardinality per language pair = estimate over max-merged
    * registers; intersection by inclusion-exclusion; the exact union
    * (from the same single distinct exchange) verifies each estimate.
    * Every join here is over ≤512-row register files — corpus-free. */
  def qHllUnion(spark: SparkSession, dir: String): DataFrame = {
    val (dist, reg) = hllDistRegs(spark, dir)
    val regC = reg.localCheckpoint() // 3 consumers of a <=langs*512 table
    val langs = regC.select("lang").distinct()
    val pairs = langs.select(col("lang").as("la"))
      .crossJoin(langs.select(col("lang").as("lb")))
      .filter(col("la") < col("lb"))
    val touches = col("lang") === col("la") || col("lang") === col("lb")
    val merged = regC.join(broadcast(pairs), touches)
      .groupBy("la", "lb", "j").agg(max(col("m")).as("m"))
    val estU = hllEst(merged, Seq("la", "lb"))
      .withColumnRenamed("est", "est_union")
    val estL = hllEst(regC, Seq("lang"))
    val exactU = dist.join(broadcast(pairs), touches)
      .select(col("la"), col("lb"), col("h")).distinct()
      .groupBy("la", "lb").agg(count(lit(1)).as("exact_union"))
    estU.join(estL.select(col("lang").as("la"), col("est").as("est_a")),
        Seq("la"))
      .join(estL.select(col("lang").as("lb"), col("est").as("est_b")),
        Seq("lb"))
      .join(exactU, Seq("la", "lb"))
      .select(col("la"), col("lb"), col("est_a"), col("est_b"),
        col("est_union"),
        round(col("est_a") + col("est_b") - col("est_union"), 4)
          .as("est_intersection"),
        col("exact_union"),
        round(abs(col("est_union") - col("exact_union"))
          / col("exact_union") * lit(100.0), 2).as("err_pct"))
  }

  // ------------------------------------------------------------ BPE encode

  /** BPE encoding with learned merges — the tokenize step that follows
    * qBpeTrain: learn the top-2 merges ([[Bpe]]), then ONE map-only pass
    * applies them corpus-wide as literal non-regex replaces (greedy
    * left-to-right non-overlap — the semantics both engines share) and
    * reports per-doc code-unit counts before/after.
    * The trained model rides into the scan as string literals — at
    * 100 TB the encode is a pure scan with the tokenizer embedded, the
    * same model-in-the-expression shape as LM scoring. */
  def qBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val corpus = TextQueries.bpeCorpus(docs(spark, dir))
    val merges = Bpe.train(corpus, 2, 0).map(_.merge)
    corpus.select(col("doc_id"),
        length(col("t")).cast("long").as("n_raw"),
        length(Bpe.encode(col("t"), merges)).cast("long").as("n_enc"))
      .withColumn("saved", (col("n_raw") - col("n_enc")).cast("long"))
      .withColumn("ratio", round(col("n_enc").cast("double")
        / col("n_raw").cast("double"), 4))
  }

  // -------------------------------------------------------- phrase search

  /** (phrase_id, words) — fixed query workload, like Bm25Terms. */
  private val Phrases: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("fast", "table"),
    1L -> Seq("table", "table"),
    2L -> Seq("big", "data"),
    3L -> Seq("value", "table", "part"),
    4L -> Seq("scan", "scan", "slow"))

  /** Phrase search over a POSITIONAL inverted index — the retrieval
    * primitive BM25 (bag-of-words) can't express: a phrase of n words
    * matches where consecutive token positions carry its words, counting
    * overlapping occurrences (an adjacency self-join, the classic
    * posting-list intersection with position offsets).
    *
    * Scale shape: postings = one scan -> tokenize -> posexplode,
    * FILTERED to the phrase vocabulary before anything shuffles (the
    * selective term filter is the whole point of an inverted index — at
    * 100 TB the posting store is term-partitioned and only the phrase's
    * terms are read at all). The filtered postings table is materialized
    * once (lineage cut — it feeds every per-phrase join), each phrase is
    * a chain of equi-joins on (doc_id, pos - offset) over term-pruned
    * sides, and the per-(phrase, doc) aggregate map-side combines.
    * Positions are 1-based on both engines. */
  def qPhraseSearch(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Phrases.flatMap(_._2).distinct
    val postings = docs(spark, dir)
      .select(col("doc_id"),
        posexplode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
          .as(Seq("p0", "w")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        col("w"))
      .where(col("w").isin(vocab: _*))
      .localCheckpoint()
    val perPhrase = Phrases.map { case (pid, ws) =>
      val base = postings.where(col("w") === ws.head)
        .select(col("doc_id"), col("pos"))
      val matched = ws.zipWithIndex.drop(1).foldLeft(base) {
        case (acc, (w, k)) =>
          acc.join(postings.where(col("w") === w)
              .select(col("doc_id"), (col("pos") - k).as("pos")),
            Seq("doc_id", "pos"))
      }
      matched.groupBy("doc_id")
        .agg(count(lit(1)).as("n_matches"), min("pos").as("first_pos"))
        .select(lit(pid).as("phrase_id"),
          lit(ws.mkString(" ")).as("phrase"), col("doc_id"),
          col("n_matches"), col("first_pos"))
    }
    perPhrase.reduce(_ unionAll _)
  }

  // ------------------------------------------------------------- oracles

  private val tokSql =
    """SELECT doc_id, w FROM d,
      |       LATERAL (SELECT unnest(regexp_split_to_array(t, '\W+'))
      |                AS w) u
      |       WHERE len(w) > 0""".stripMargin

  /** DuckDB twin of qPhraseSearch: same 1-based positional postings
    * (recursive-unnest of a pos/word struct list), same term-pruned
    * adjacency joins per phrase, counting overlapping matches. */
  private val phraseSearchOracle: String = {
    val vocab = Phrases.flatMap(_._2).distinct
      .map(w => s"'$w'").mkString(", ")
    val per = Phrases.map { case (pid, ws) =>
      val joins = ws.zipWithIndex.drop(1).map { case (w, k) =>
        s"JOIN p t$k ON t$k.doc_id = t0.doc_id " +
          s"AND t$k.pos = t0.pos + $k AND t$k.w = '$w'"
      }.mkString(" ")
      s"SELECT CAST($pid AS BIGINT) AS phrase_id, " +
        s"'${ws.mkString(" ")}' AS phrase, t0.doc_id, t0.pos " +
        s"FROM p t0 $joins WHERE t0.w = '${ws.head}'"
    }.mkString(" UNION ALL ")
    s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  regexp_extract_all(lower(text), '[a-z]+') AS l FROM documents),
       |pt AS (SELECT doc_id,
       |         unnest(list_transform(range(1, len(l) + 1),
       |           i -> {'pos': CAST(i AS BIGINT), 'w': l[i]}),
       |           recursive := true)
       |       FROM d),
       |p AS (SELECT doc_id, pos, w FROM pt WHERE w IN ($vocab)),
       |u AS ($per)
       |SELECT phrase_id, phrase, doc_id, COUNT(*) AS n_matches,
       |  MIN(pos) AS first_pos
       |FROM u GROUP BY 1, 2, 3""".stripMargin
  }

  // ------------------------------------------- KMV quantile sketch

  private val KmvK = 64

  /** Mergeable QUANTILE sketch for UNBOUNDED value domains (SURVEY §2
    * row 214) — the gap left by the suite's exact-quantile rows, which
    * all lean on a bounded score domain (histogram ≤ domain rows:
    * rows 64/86/168). When the domain is unbounded (or huge), the
    * scalable primitive is a BOTTOM-K-BY-HASH sample (KMV): hashing
    * row identity gives every row a uniform draw, and keeping the K
    * smallest hashes per group is a uniform K-sample WITHOUT
    * replacement that is (a) deterministic, (b) MERGEABLE — bottom-k
    * of a union is the bottom-k of per-partition bottom-k's, the same
    * heap-merge law the suite's TopKAgg already encodes, so the
    * shuffle carries ≤ K rows per (partition × group) at any corpus
    * size — and (c) exactly replayable in SQL (a row_number window),
    * unlike KLL/t-digest whose compaction order is sequential state.
    * Quantile estimate = the ceil(q·k)-th order statistic of the
    * sample by VALUE (percentile_disc semantics over the sample).
    *
    * The probed value is made unbounded-ish on purpose (n_chars·10⁴ +
    * a doc-keyed residue) so no histogram could cover it; the hash is
    * a Knuth multiplicative mix mod the Mersenne-ish 1e9+7, with the
    * doc_id reduced FIRST so the product stays under 2^63 at any id
    * scale. Estimate error vs the true quantile is pinned in the spec
    * at sf0.001 (|rank error| ≤ the DKW-style k^-1/2 band). */
  def qQuantileSketch(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("lang"), col("doc_id"),
      (length(col("text")).cast("long") * 10000L
        + pmod(col("doc_id") * 37L, lit(9973L))).as("v"),
      pmod(pmod(col("doc_id"), lit(1000000007L)) * 2654435761L + 97L,
        lit(1000000007L)).as("h"))
    val beams = d.groupBy("lang").agg(
      graft.functions.TopKAgg(col("h").cast("double"), col("doc_id"),
        col("v"), KmvK).as("beam"),
      count(lit(1)).as("n_docs"))
    beams
      .select(col("lang"), col("n_docs"),
        sort_array(transform(col("beam"), b => b.getField("payload")))
          .as("vs"))
      .select(col("lang"), col("n_docs"),
        size(col("vs")).cast("long").as("k_eff"),
        element_at(col("vs"),
          expr(s"CAST((size(vs) + 1) DIV 2 AS INT)")).as("q50_est"),
        element_at(col("vs"),
          expr(s"CAST((size(vs) * 9 + 9) DIV 10 AS INT)")).as("q90_est"),
        element_at(col("vs"),
          expr(s"CAST((size(vs) * 99 + 99) DIV 100 AS INT)"))
          .as("q99_est"))
  }

  /** FM-index substring count (SURVEY §2 row 220, r17): BWT +
    * C-table + blocked-occ over the corpus suffix array, serving
    * substring-count queries by BACKWARD SEARCH — O(pattern) bounded
    * index probes instead of a corpus scan per pattern. Patterns are
    * 8 deterministic substrings lifted from the corpus itself (doc
    * k·60+3, offset k·7, length 4+(k·3 mod 9) — lengths 4..12, so the
    * multi-step chain and the within-packed-width cases both run) plus
    * two fixed probes (one common, one absent). Structure + LF
    * invariant in [[graft.operators.FmIndex]]; the oracle counts by
    * DIRECT substring comparison over every position and derives the
    * rank interval from plain string inequalities — an algorithm that
    * shares nothing with the index. */
  def qFmSubstringCount(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select("doc_id", "text")
    val seed = d.filter(col("doc_id") % 60 === 3 && col("doc_id") < 480)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val lifted = (0 to 7).map { k =>
      val t = seed(k * 60L + 3L)
      (k.toLong, t.substring(k * 7, k * 7 + 4 + (k * 3) % 9))
    }
    val pats = lifted ++ Seq((8L, "the "), (9L, "zqxjvvqz"))
    // artifact-served (r18, VERDICT r17 item 1): the suffix order and
    // the FM tables (bwt/blockCum/C/E) persist once per (session,
    // corpus) — backward search probes the standing index, never a
    // rebuild. An FM-index whose every use rebuilds the BWT is a scan
    // in disguise.
    import graft.operators.SuffixIndex
    val h = SuffixIndex.forCorpus(d, dir)
    graft.operators.FmIndex.serve(h.ord,
      SuffixIndex.fmFor(h), pats)
  }

  /** FM-index LOCATE (SURVEY §2 row 225, r18): every occurrence
    * POSITION of every pattern, served from the standing suffix-index
    * artifact — the serving half row 220's count query stopped short
    * of (decontamination wants the span to excise, not just the
    * count; template mining wants the sites). Backward search resolves
    * each pattern to its SA rank interval in O(pattern) bounded index
    * probes, then ONE scan of the persisted order emits (doc_id, byte
    * offset) per rank — no corpus text scan per pattern, no LF-walk
    * driver round-trips (the full order is already a standing
    * distributed table; see [[graft.operators.FmIndex.locate]]).
    * Patterns: 8 deterministic substrings lifted from the corpus
    * (doc k·60+3, offset k·5+2, length 5+(k·2 mod 7) — lengths 5..11,
    * distinct from row 220's probes) plus one common ("ing ") and one
    * absent ("zqxjvvqz", locates nothing). The oracle shares no
    * machinery: direct substring comparison at every corpus
    * position. */
  def qFmLocate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select("doc_id", "text")
    val seed = d.filter(col("doc_id") % 60 === 3 && col("doc_id") < 480)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val lifted = (0 to 7).map { k =>
      val t = seed(k * 60L + 3L)
      (k.toLong, t.substring(k * 5 + 2, k * 5 + 2 + 5 + (k * 2) % 7))
    }
    val pats = lifted ++ Seq((8L, "ing "), (9L, "zqxjvvqz"))
    import graft.operators.SuffixIndex
    val h = SuffixIndex.forCorpus(d, dir)
    graft.operators.FmIndex.locate(h.ord,
      SuffixIndex.fmFor(h), pats)
  }

  val oracles: Map[String, String] = Map(
    // FM substring count: the oracle is a DIFFERENT algorithm — direct
    // substring comparison at every position (n_occ, n_docs) and plain
    // string inequalities for the rank interval (sa_lo = #{suffix <
    // pat} + 1; a suffix with prefix == pat sorts >= pat, so the
    // strict < count is exactly the rank before the match block)
    "q_fm_substring_count" ->
      """WITH pk AS (SELECT CAST(k AS BIGINT) AS pid,
        |    substr(d.text, k * 7 + 1, 4 + (k * 3) % 9) AS pat
        |  FROM (SELECT unnest(generate_series(0, 7)) AS k) v
        |  JOIN documents d ON CAST(d.doc_id AS BIGINT) = k * 60 + 3),
        |pats AS (SELECT pid, pat FROM pk
        |  UNION ALL SELECT 8, 'the '
        |  UNION ALL SELECT 9, 'zqxjvvqz'),
        |pos AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    CAST(g.p AS BIGINT) AS pos,
        |    substr(text, CAST(g.p AS BIGINT) + 1) AS suf
        |  FROM documents,
        |    LATERAL (SELECT unnest(generate_series(0,
        |      length(text) - 1)) AS p) g),
        |hits AS (SELECT p.pid, s.doc_id
        |  FROM pats p JOIN pos s
        |    ON substr(s.suf, 1, len(p.pat)) = p.pat),
        |agg AS (SELECT pid, CAST(COUNT(*) AS BIGINT) AS n_occ,
        |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        |  FROM hits GROUP BY pid),
        |lo AS (SELECT p.pid,
        |    CAST(COUNT(CASE WHEN s.suf < p.pat THEN 1 END) + 1
        |      AS BIGINT) AS sa_lo
        |  FROM pats p, pos s GROUP BY p.pid)
        |SELECT p.pid, p.pat,
        |  COALESCE(a.n_occ, 0) AS n_occ,
        |  COALESCE(a.n_docs, 0) AS n_docs,
        |  CASE WHEN COALESCE(a.n_occ, 0) = 0 THEN 0
        |    ELSE l.sa_lo END AS sa_lo,
        |  CASE WHEN COALESCE(a.n_occ, 0) = 0 THEN -1
        |    ELSE l.sa_lo + a.n_occ - 1 END AS sa_hi
        |FROM pats p
        |LEFT JOIN agg a ON a.pid = p.pid
        |LEFT JOIN lo l ON l.pid = p.pid""".stripMargin,
    // FM locate: the oracle scans every corpus position directly —
    // shares nothing with the BWT/backward-search machinery; one wrong
    // rank interval adds or drops an occurrence row and breaks the hash
    "q_fm_locate" ->
      """WITH pk AS (SELECT CAST(k AS BIGINT) AS pid,
        |    substr(d.text, k * 5 + 3, 5 + (k * 2) % 7) AS pat
        |  FROM (SELECT unnest(generate_series(0, 7)) AS k) v
        |  JOIN documents d ON CAST(d.doc_id AS BIGINT) = k * 60 + 3),
        |pats AS (SELECT pid, pat FROM pk
        |  UNION ALL SELECT 8, 'ing '
        |  UNION ALL SELECT 9, 'zqxjvvqz'),
        |pos AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    CAST(g.p AS BIGINT) AS pos,
        |    substr(text, CAST(g.p AS BIGINT) + 1) AS suf
        |  FROM documents,
        |    LATERAL (SELECT unnest(generate_series(0,
        |      length(text) - 1)) AS p) g)
        |SELECT p.pid, p.pat, s.doc_id, s.pos
        |FROM pats p JOIN pos s
        |  ON substr(s.suf, 1, len(p.pat)) = p.pat""".stripMargin,
    "q_quantile_sketch" ->
      s"""WITH d AS (
         |  SELECT lang, CAST(doc_id AS BIGINT) AS doc_id,
         |    CAST(length(text) AS BIGINT) * 10000
         |      + (CAST(doc_id AS BIGINT) * 37) % 9973 AS v,
         |    ((CAST(doc_id AS BIGINT) % 1000000007) * 2654435761 + 97)
         |      % 1000000007 AS h
         |  FROM documents
         |),
         |samp AS (
         |  SELECT lang, v FROM (
         |    SELECT lang, v,
         |      row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)
         |        AS rn
         |    FROM d) z
         |  WHERE rn <= $KmvK
         |),
         |srt AS (
         |  SELECT lang, v,
         |    row_number() OVER (PARTITION BY lang ORDER BY v) AS rv,
         |    count(*) OVER (PARTITION BY lang) AS ke
         |  FROM samp
         |),
         |agg AS (
         |  SELECT lang, CAST(max(ke) AS BIGINT) AS k_eff,
         |    max(CASE WHEN rv = (ke + 1) // 2 THEN v END) AS q50_est,
         |    max(CASE WHEN rv = (ke * 9 + 9) // 10 THEN v END)
         |      AS q90_est,
         |    max(CASE WHEN rv = (ke * 99 + 99) // 100 THEN v END)
         |      AS q99_est
         |  FROM srt GROUP BY lang
         |),
         |nd AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
         |       FROM d GROUP BY lang)
         |SELECT nd.lang, nd.n_docs, a.k_eff,
         |  a.q50_est, a.q90_est, a.q99_est
         |FROM nd JOIN agg a ON a.lang = nd.lang
         |""".stripMargin,

    "q_phrase_search" -> phraseSearchOracle,
    "q_chunk_docs" ->
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |  list_filter(regexp_split_to_array(lower(text), '\\W+'),
         |              c -> len(c) > 0) AS a FROM documents),
         |s AS (SELECT doc_id, a, unnest(generate_series(0,
         |         len(a) - 1, $ChunkStride)) AS st
         |      FROM d WHERE len(a) > 0),
         |c AS (SELECT doc_id, CAST(st // $ChunkStride AS BIGINT)
         |        AS chunk_id,
         |        list_slice(a, st + 1, st + $ChunkSize) AS ch FROM s)
         |SELECT doc_id, chunk_id,
         |  CAST(len(ch) AS BIGINT) AS n_tok,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(ch, w -> CAST(len(w) AS BIGINT))),
         |    (x, y) -> x + y) AS n_chars,
         |  ch[1] AS first_w,
         |  ch[-1] AS last_w
         |FROM c""".stripMargin,

    "q_heavy_hitters_cms" -> {
      val rowsVals = CmsRows.zipWithIndex
        .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
      val probeVals = CmsProbes.map(w => s"('$w')").mkString(", ")
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |             lower(text) AS t FROM documents),
         |tk AS ($tokSql),
         |r(i, a, b) AS (VALUES $rowsVals),
         |th AS (SELECT w, ${TextSql.fp("w")} AS h FROM tk),
         |sk AS (SELECT i, ((a * h + b) % $CmsP) % $CmsWidth AS bk,
         |         COUNT(*) AS c
         |       FROM th, r GROUP BY 1, 2),
         |pr(w) AS (VALUES $probeVals),
         |ph AS (SELECT w, ${TextSql.fp("w")} AS h FROM pr),
         |pb AS (SELECT w, i, ((a * h + b) % $CmsP) % $CmsWidth AS bk
         |       FROM ph, r),
         |est AS (SELECT w, MIN(COALESCE(c, 0)) AS est
         |        FROM pb LEFT JOIN sk USING (i, bk) GROUP BY w),
         |ex AS (SELECT w, COUNT(*) AS exact FROM tk
         |       WHERE w IN (SELECT w FROM pr) GROUP BY w)
         |SELECT est.w AS w,
         |  CAST(COALESCE(ex.exact, 0) AS BIGINT) AS exact,
         |  CAST(est.est AS BIGINT) AS est,
         |  CAST(est.est - COALESCE(ex.exact, 0) AS BIGINT) AS overcount
         |FROM est LEFT JOIN ex ON est.w = ex.w
         |ORDER BY w""".stripMargin
    },

    "q_bpe_encode" ->
      s"""WITH d0 AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |              CAST(len(lower(text)) AS BIGINT) AS n_raw,
         |              lower(text) AS t FROM documents),
         |${BpeSql.rounds(2, 0, Seq("doc_id", "n_raw"))}
         |SELECT doc_id, n_raw, CAST(len(t) AS BIGINT) AS n_enc,
         |  CAST(n_raw - len(t) AS BIGINT) AS saved,
         |  ROUND(CAST(len(t) AS DOUBLE) / CAST(n_raw AS DOUBLE), 4)
         |    AS ratio
         |FROM d2""".stripMargin,

    // Retrieval-eval replay: per-term BM25 with the q_bm25 constant
    // discipline (every inexact literal CAST AS DOUBLE, same op order),
    // score rounded to 4 BEFORE ROW_NUMBER ranking, rel = least(tf-1,2),
    // DCG/IDCG as SUM over <=10 rows of exact 2^rel-1 over log2 terms,
    // ideal order (rel DESC, doc_id) mirrors the TopKAgg key exactly.
    "q_retrieval_eval" -> {
      val terms = EvalTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |             lower(text) AS t FROM documents),
         |tk AS (SELECT doc_id, w FROM d,
         |       LATERAL (SELECT unnest(regexp_split_to_array(t, '\\W+'))
         |                AS w) u
         |       WHERE len(w) > 0),
         |lens AS (SELECT doc_id, COUNT(*) AS len FROM tk GROUP BY 1),
         |st AS (SELECT COUNT(*) AS n, CAST(SUM(len) AS DOUBLE)
         |         AS total_len FROM lens),
         |tf AS (SELECT doc_id, w AS q, COUNT(*) AS tf FROM tk
         |       WHERE w IN ($terms) GROUP BY 1, 2),
         |df AS (SELECT q, COUNT(*) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT tf.doc_id, tf.q,
         |         ROUND(ln(CAST(1.0 AS DOUBLE)
         |            + (CAST(st.n AS DOUBLE) - df.df
         |               + CAST(0.5 AS DOUBLE))
         |              / (df.df + CAST(0.5 AS DOUBLE)))
         |         * CAST(tf.tf AS DOUBLE)
         |         * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
         |         / (CAST(tf.tf AS DOUBLE)
         |            + CAST(1.2 AS DOUBLE)
         |              * (CAST(0.25 AS DOUBLE)
         |                 + CAST(0.75 AS DOUBLE)
         |                   * CAST(lens.len AS DOUBLE)
         |                   * CAST(st.n AS DOUBLE) / st.total_len)), 4)
         |           AS s4,
         |         least(tf.tf - 1, 2) AS rel
         |       FROM tf JOIN df USING (q)
         |       JOIN lens ON lens.doc_id = tf.doc_id, st),
         |rk AS (SELECT q, rel,
         |         ROW_NUMBER() OVER (PARTITION BY q
         |           ORDER BY s4 DESC, doc_id) AS rank
         |       FROM sc QUALIFY rank <= $EvalK),
         |pq AS (SELECT q,
         |         SUM((POWER(2.0, CAST(rel AS DOUBLE)) - 1.0)
         |             / log2(CAST(rank AS DOUBLE) + 1.0)) AS dcg,
         |         MAX(CASE WHEN rel >= 1
         |             THEN 1.0 / CAST(rank AS DOUBLE) ELSE 0.0 END) AS mrr,
         |         SUM(CASE WHEN rel >= 1 THEN 1 ELSE 0 END) AS n_rel_ret
         |       FROM rk GROUP BY q),
         |ir AS (SELECT q, rel,
         |         ROW_NUMBER() OVER (PARTITION BY q
         |           ORDER BY rel DESC, doc_id) AS rank
         |       FROM sc WHERE rel >= 1 QUALIFY rank <= $EvalK),
         |ic AS (SELECT q, COUNT(*) AS n_rel FROM sc
         |       WHERE rel >= 1 GROUP BY q),
         |id2 AS (SELECT q,
         |          SUM((POWER(2.0, CAST(rel AS DOUBLE)) - 1.0)
         |              / log2(CAST(rank AS DOUBLE) + 1.0)) AS idcg
         |        FROM ir GROUP BY q)
         |SELECT pq.q AS query,
         |  CAST(COALESCE(ic.n_rel, 0) AS BIGINT) AS n_rel,
         |  CAST(pq.n_rel_ret AS BIGINT) AS n_rel_ret,
         |  ROUND(pq.mrr, 4) AS mrr10,
         |  ROUND(pq.n_rel_ret / 10.0, 4) AS prec10,
         |  ROUND(CASE WHEN COALESCE(id2.idcg, 0.0) > 0.0
         |        THEN pq.dcg / id2.idcg ELSE 0.0 END, 4) AS ndcg10
         |FROM pq LEFT JOIN id2 ON id2.q = pq.q
         |LEFT JOIN ic ON ic.q = pq.q""".stripMargin
    },

    // HLL replay: same fold-31 fingerprint + simhash mixing multiply,
    // register/rank from exact integer ops, harmonic sum of dyadic
    // 2^-m terms (order-independent-exact in doubles), alpha built
    // from CAST(... AS DOUBLE) literals (bare decimals are DECIMAL in
    // DuckDB — the SURVEY §2 row 64 hazard).
    // byte counts from pure 7-bit-group arithmetic over LAG gaps — no
    // byte is ever built here, so the kernel's encoder is checked
    // against a derivation; roundtrip must come back TRUE everywhere
    "q_postings_compress" ->
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |             ${TextSql.norm("text")} AS t
        |           FROM documents),
        |tk AS (SELECT DISTINCT doc_id, w FROM d,
        |       LATERAL (SELECT unnest(string_split(t, ' ')) AS w) u
        |       WHERE len(w) > 0),
        |g AS (SELECT w, doc_id,
        |        doc_id - COALESCE(LAG(doc_id) OVER (PARTITION BY w
        |          ORDER BY doc_id), -1) AS gap
        |      FROM tk),
        |sz AS (SELECT w, COUNT(*) AS df,
        |         SUM(CASE WHEN gap < 128 THEN 1
        |                  WHEN gap < 16384 THEN 2
        |                  WHEN gap < 2097152 THEN 3
        |                  WHEN gap < 268435456 THEN 4
        |                  ELSE 5 END) AS enc_bytes
        |       FROM g GROUP BY 1)
        |SELECT w, CAST(df AS BIGINT) AS df,
        |  CAST(df * 8 AS BIGINT) AS raw_bytes,
        |  CAST(enc_bytes AS BIGINT) AS enc_bytes,
        |  ROUND(CAST(enc_bytes AS DOUBLE) / CAST(df * 8 AS DOUBLE), 4)
        |    AS ratio, TRUE AS roundtrip
        |FROM sz""".stripMargin,

    "q_hll_distinct" -> {
      s"""WITH d AS (SELECT lower(text) AS t, lang FROM documents),
         |tk AS (SELECT lang, w FROM d,
         |       LATERAL (SELECT unnest(regexp_split_to_array(t, '\\W+'))
         |                AS w) u
         |       WHERE len(w) > 0),
         |hs AS (SELECT DISTINCT lang,
         |         ${TextSql.fp("w")} * 2654435761 % $HllP AS h
         |       FROM tk),
         |rg AS (SELECT lang, h % $HllM AS j,
         |         MAX(CASE WHEN h // $HllM = 0 THEN 23
         |             ELSE CAST(bit_count(xor(h // $HllM, h // $HllM - 1))
         |                  AS BIGINT) END) AS m
         |       FROM hs GROUP BY 1, 2),
         |ag AS (SELECT lang, COUNT(*) AS nhit,
         |         SUM(POWER(2.0, -m)) AS hsum FROM rg GROUP BY 1),
         |ex AS (SELECT lang, COUNT(*) AS exact FROM hs GROUP BY 1),
         |rw AS (SELECT ag.lang AS lang, $HllM - nhit AS zeros,
         |         CAST(0.7213 AS DOUBLE)
         |             / (1.0 + CAST(1.079 AS DOUBLE) / 512.0)
         |           * 512.0 * 512.0
         |           / (hsum + CAST($HllM - nhit AS DOUBLE)) AS raw,
         |         exact
         |       FROM ag JOIN ex ON ag.lang = ex.lang),
         |es AS (SELECT lang, zeros,
         |         ROUND(CASE WHEN zeros > 0
         |                     AND raw <= CAST(2.5 AS DOUBLE) * 512.0
         |           THEN 512.0 * ln(512.0 / CAST(zeros AS DOUBLE))
         |           ELSE raw END, 4) AS est,
         |         exact
         |       FROM rw)
         |SELECT lang, CAST(zeros AS BIGINT) AS zeros,
         |  est AS est_distinct, CAST(exact AS BIGINT) AS exact_distinct,
         |  ROUND(ABS(est - exact) / exact * 100.0, 2) AS err_pct
         |FROM es""".stripMargin
    },

    // register max-merge replayed per language pair; the estimate
    // formula (incl. the linear-counting branch) appears twice — once
    // per-lang, once per merged pair — exactly as the engine computes it
    "q_hll_union" -> {
      val est = (src: String, keys: String) =>
        s"""SELECT $keys, $HllM - COUNT(*) AS zeros,
           |  ROUND(CASE WHEN $HllM - COUNT(*) > 0
           |          AND CAST(0.7213 AS DOUBLE)
           |              / (1.0 + CAST(1.079 AS DOUBLE) / 512.0)
           |            * 512.0 * 512.0
           |            / (SUM(POWER(2.0, -m))
           |               + CAST($HllM - COUNT(*) AS DOUBLE))
           |            <= CAST(2.5 AS DOUBLE) * 512.0
           |    THEN 512.0 * ln(512.0 / CAST($HllM - COUNT(*) AS DOUBLE))
           |    ELSE CAST(0.7213 AS DOUBLE)
           |           / (1.0 + CAST(1.079 AS DOUBLE) / 512.0)
           |         * 512.0 * 512.0
           |         / (SUM(POWER(2.0, -m))
           |            + CAST($HllM - COUNT(*) AS DOUBLE)) END, 4) AS est
           |FROM $src GROUP BY $keys""".stripMargin
      s"""WITH d AS (SELECT lower(text) AS t, lang FROM documents),
         |tk AS (SELECT lang, w FROM d,
         |       LATERAL (SELECT unnest(regexp_split_to_array(t, '\\W+'))
         |                AS w) u
         |       WHERE len(w) > 0),
         |hs AS (SELECT DISTINCT lang,
         |         ${TextSql.fp("w")} * 2654435761 % $HllP AS h
         |       FROM tk),
         |rg AS (SELECT lang, h % $HllM AS j,
         |         MAX(CASE WHEN h // $HllM = 0 THEN 23
         |             ELSE CAST(bit_count(xor(h // $HllM, h // $HllM - 1))
         |                  AS BIGINT) END) AS m
         |       FROM hs GROUP BY 1, 2),
         |ls AS (SELECT DISTINCT lang FROM rg),
         |pr AS (SELECT a.lang AS la, b.lang AS lb FROM ls a, ls b
         |       WHERE a.lang < b.lang),
         |mg AS (SELECT la, lb, j, MAX(m) AS m
         |       FROM rg JOIN pr ON rg.lang = pr.la OR rg.lang = pr.lb
         |       GROUP BY 1, 2, 3),
         |eu AS (${est("mg", "la, lb")}),
         |el AS (${est("rg", "lang")}),
         |xu AS (SELECT la, lb, COUNT(DISTINCT h) AS exact_union
         |       FROM hs JOIN pr ON hs.lang = pr.la OR hs.lang = pr.lb
         |       GROUP BY 1, 2)
         |SELECT eu.la, eu.lb, a.est AS est_a, b.est AS est_b,
         |  eu.est AS est_union,
         |  ROUND(a.est + b.est - eu.est, 4) AS est_intersection,
         |  CAST(xu.exact_union AS BIGINT) AS exact_union,
         |  ROUND(ABS(eu.est - xu.exact_union) / xu.exact_union * 100.0, 2)
         |    AS err_pct
         |FROM eu
         |JOIN el a ON a.lang = eu.la
         |JOIN el b ON b.lang = eu.lb
         |JOIN xu ON xu.la = eu.la AND xu.lb = eu.lb""".stripMargin
    })

  /** Posting-list compression (functions.DeltaVarint): per term the
    * sorted doc-id posting list delta+LEB128 encodes, self-verifies by
    * decoding (an inverse-pair check), and reports the byte count the
    * oracle derives INDEPENDENTLY from 7-bit-group arithmetic —
    * the Lucene-VInt storage layer under rows 69/87's indexes. One
    * posting shuffle (the index build's own exchange), then row-local. */
  def qPostingsCompress(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"),
        explode(split(norm(col("text")), " ")).as("w"))
      .where(length(col("w")) > 0)
      .distinct()
    val postings = toks.groupBy("w")
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
    val v = graft.functions.DeltaVarint(col("ids"))
    postings.select(col("w"), v.as("v"),
        size(col("ids")).cast("long").as("df"))
      .select(col("w"), col("df"), (col("df") * 8L).as("raw_bytes"),
        col("v.enc_bytes").as("enc_bytes"),
        round(col("v.enc_bytes").cast("double")
          / (col("df") * 8L).cast("double"), 4).as("ratio"),
        col("v.roundtrip").as("roundtrip"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_fm_substring_count" -> (qFmSubstringCount _),
    "q_fm_locate" -> (qFmLocate _),
    "q_postings_compress" -> (qPostingsCompress _),
    "q_phrase_search" -> (qPhraseSearch _),
    "q_chunk_docs" -> (qChunkDocs _),
    "q_heavy_hitters_cms" -> (qHeavyHittersCms _),
    "q_bpe_encode" -> (qBpeEncode _),
    "q_hll_distinct" -> (qHllDistinct _),
    "q_hll_union" -> (qHllUnion _),
    "q_quantile_sketch" -> (qQuantileSketch _),
    "q_retrieval_eval" -> (qRetrievalEval _))
}
