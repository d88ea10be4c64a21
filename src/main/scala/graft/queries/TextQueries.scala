package graft.queries

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Bpe
import graft.functions.TextFunctions._

/** Text-analysis queries over the documents table (SURVEY.md §2 rows 28,
  * 34-37). Each oracle mirrors the Spark expression tree exactly; all
  * counts are integer-exact, all ratios are rounded to 4 on both sides.
  */
object TextQueries {

  // consumers run per-doc kernels (shingle hashes, tokenize explodes,
  // regex scoring) before their first exchange — spread the single-
  // row-group scan (Tables.spread: no-op on real many-file corpora).
  // Shared with RetrievalQueries: both build the session suffix index
  // over it under the data dir's key, so there must be one definition.
  private[graft] def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.load(spark, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        col("lang"), col("source")))

  // ------------------------------------------------------------ exact dedup

  /** Exact dedup: md5 over normalized text; canonical = min doc_id per
    * hash group. Single shuffle on the hash (window over h). */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("h")
    docs(spark, dir)
      .select(col("doc_id"), md5(norm(col("text"))).as("h"))
      .withColumn("canonical_id", min("doc_id").over(w))
      .withColumn("n_copies", count(lit(1)).over(w))
      .select(col("doc_id"), col("h"), col("canonical_id"), col("n_copies"),
        (col("doc_id") =!= col("canonical_id")).as("is_dup"))
  }

  // -------------------------------------------------------------- language

  /** Language ID over DISCRIMINATIVE function-word profiles with a
    * MARGIN-AWARE decision — the r10 eval's finding fixed: the old
    * stopword scorer tied at zero for every non-en language (the
    * corpus vocabulary contains 'the'/'a' but no other language's
    * words) and the tie ORDER silently predicted 'en' for everything.
    * Now (1) profiles exclude ambient vocabulary
    * ([[graft.functions.TextFunctions.langidProfiles]]), (2) a
    * prediction requires a UNIQUE argmax with at least one hit —
    * anything else is honestly 'und' (unknown), never a tie-order
    * artifact.
    *
    * The generator's text carries NO language signal (measured: word
    * frequencies are uniform across the five labels — the label column
    * is independent of the text), so language-marked text is PLANTED
    * deterministically from (doc_id, lang) — the same move as the PII /
    * CSV-hazard / unicode rows: 2 + d%5 own-profile words (r12; none
    * for the doc_id%13==0 honest-'und' stratum) plus, for doc_id%7==0,
    * two confusable-NEIGHBOR words (es↔fr, de↔en, zh→en). Scoring adds
    * a CHAR-BIGRAM profile layer ([[graft.functions.TextFunctions
    * .langidBigrams]], Cavnar & Trenkle 1994) beside the function
    * words: score = 2·word-hits + bigram-hits, so word-level ties
    * (one own word vs a two-word neighbor plant) break on character
    * evidence — measured diagonal recall >= 0.85 every language at
    * every shipped sf (spec-pinned), up from the word-only 0.70-0.79.
    * The engine does the real regex match work against the planted
    * text; the oracle derives every score ANALYTICALLY from the same
    * (doc_id, lang) arithmetic, so generation and extraction check
    * each other. Signal-free docs come out 'und'; docs where the
    * neighbor plant outweighs the own plant come out as that neighbor
    * — a real confusion structure, not a constant column. */
  /** The langid family's deterministic marker planting, shared by the
    * scorer and the keyword report: own markers j < doc_id %% 5 of
    * profile[(doc_id + j) %% 5], confusion markers from the neighbor
    * profile on every 7th doc. */
  private def langidPlantedText(d: DataFrame): DataFrame = {
    val did = col("doc_id")
    // word idx -> literal for a given language's profile
    def wordAt(lang: String, idx: org.apache.spark.sql.Column) =
      langidProfiles.toMap.apply(lang).zipWithIndex
        .foldLeft(lit(null: String)) { case (acc, (w, i)) =>
          when(idx === i, lit(w)).otherwise(acc)
        }
    def profileWord(langCol: org.apache.spark.sql.Column,
                    idx: org.apache.spark.sql.Column) =
      langidProfiles.foldLeft(lit(null: String)) { case (acc, (l, _)) =>
        when(langCol === l, wordAt(l, idx)).otherwise(acc)
      }
    val neighborCol = langidNeighbor.foldLeft(lit(null: String)) {
      case (acc, (l, n)) => when(col("lang") === l, lit(n)).otherwise(acc)
    }
    // own markers (r12): j < 2 + doc_id % 5 of profile[(doc_id + j) % 5]
    // — every doc carries 2-5 own markers EXCEPT the doc_id % 13 == 0
    // stratum, which gets none (the honest-'und' class: genuinely
    // signal-free text must stay predictable as unknown). The old
    // j < doc_id % 5 left 20% of docs marker-free, capping diagonal
    // recall at 0.8 before the scorer even ran.
    val ownParts = (0 until 5).map { j =>
      when(lit(j) < lit(2) + did % 5 && did % 13 =!= 0,
        profileWord(col("lang"), (did + j) % 5))
        .otherwise(lit(null: String))
    }
    val confParts = Seq(did % 5, (did + 2) % 5).map { idx =>
      when(did % 7 === 0, profileWord(neighborCol, idx))
        .otherwise(lit(null: String))
    }
    d.withColumn("t",
      norm(concat_ws(" ", (col("text") +: (ownParts ++ confParts)): _*)))
  }

  def qLangId(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val planted = langidPlantedText(d)
    // score = 2·(function-word hits) + (char-bigram hits): words carry
    // double weight (a whole-word match is stronger evidence than two
    // incidental chars), bigrams break word-level ties. Bigrams count
    // PER PATTERN (overlapping bigrams like za|ai in 'zai' both hit —
    // one alternation regex would consume 'za' and miss 'ai').
    val bigs = langidBigrams.toMap
    val scored = langidProfiles.foldLeft(planted) { case (df, (lang, words)) =>
      df.withColumn(s"score_$lang",
        stopwordCount(col("t"), words) * 2 +
          bigs(lang).map(b => reCount(col("t"), b)).reduce(_ + _))
    }
    val scores = langidProfiles.map { case (l, _) => col(s"score_$l") }
    val best = greatest(scores: _*)
    val nBest = scores.map(s => when(s === best, 1).otherwise(0))
      .reduce(_ + _)
    val argmax = langidProfiles.reverse.foldLeft(lit("und")) {
      case (acc, (l, _)) =>
        when(col(s"score_$l") === best, lit(l)).otherwise(acc)
    }
    // margin-aware: a unique argmax with >= 1 hit, else honest 'und'
    val predExpr = when(best >= 1 && nBest === 1, argmax)
      .otherwise(lit("und"))
    scored.select(
      (col("doc_id") +: langidProfiles.map { case (l, _) => col(s"score_$l") }) ++
        Seq(predExpr.as("pred_lang"), col("lang"),
          (predExpr === col("lang")).as("correct")): _*)
  }

  // --------------------------------------------------------------- quality

  def qTextQuality(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val nChars = length(col("text")).cast("long")
    val nWords = wordCount(col("text"))
    val nPunct = reCount(col("text"), "[.,;:!?]")
    val nUpper = reCount(col("text"), "[A-Z]")
    val nDigit = reCount(col("text"), "[0-9]")
    val nStop = stopwordCount(norm(col("text")), langStopwords.head._2)
    val nCharsNoWs = length(regexp_replace(col("text"), "\\s", "")).cast("long")
    // per-word ratios are NULL for 0-word documents (0/0 is engine-
    // dependent; NULL is the same on both sides) — `passes` stays false
    // because n_words >= 10 is already false
    def perWord(c: org.apache.spark.sql.Column) =
      when(nWords === 0, lit(null)).otherwise(round(c / nWords.cast("double"), 4))
    d.select(col("doc_id"),
        nChars.as("n_chars"), nWords.as("n_words"), nPunct.as("n_punct"),
        nUpper.as("n_upper"), nDigit.as("n_digit"), nStop.as("n_stop"),
        perWord(nCharsNoWs.cast("double")).as("avg_word_len"),
        perWord(nStop.cast("double")).as("stop_ratio"),
        // same NULL guard for the per-char ratio: an empty document has
        // n_chars = 0 and 0/0 is engine-dependent
        when(nChars === 0, lit(null))
          .otherwise(round(nUpper.cast("double") / nChars.cast("double"), 4))
          .as("upper_ratio"))
      .withColumn("passes",
        col("n_words") >= 10 && col("stop_ratio") >= 0.02)
  }

  // ----------------------------------------------------- quality classifier

  /** Distributed logistic-regression quality classifier
    * (operators.Classifier): cheap deterministic features + a
    * clean-vs-junk target, 3 full-batch GD steps (each ONE aggregate,
    * model driver-sized), then map-only scoring. The feature table is
    * materialized once (lineage cut) for its 3 training scans + the
    * scoring scan — at scale you extract features once, not per
    * iteration. Every double on the path is IEEE-deterministic (no
    * transcendentals) and gradients sum as exact integer nanos, so the
    * oracle replays training bit-for-bit.
    *
    * The label is LEARNABLE by construction (r11): every third doc
    * gets a planted symbol-spam suffix of doc-keyed strength — the
    * PII/CSV/langid planting move — and y = clean. The r10 target
    * (lang=='en') was unlearnable: the corpus text is label-independent
    * (measured), so the model converged to the base rate and the new
    * eval harness (qClassifierEval) read AUC 0.51 from it. A quality
    * filter trained on known-junk vs known-clean is also the honest
    * production shape (the fasttext/CCNet gate trains on labeled
    * corpora, not on accidents of the data). */
  def qQualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Classifier
    val junk = when(col("doc_id") % 3 === 0,
      repeat(lit(" !?!#"), (lit(5) + col("doc_id") % 7).cast("int")))
      .otherwise(lit(""))
    val d = docs(spark, dir)
      .select(col("doc_id"), concat(col("text"), junk).as("text"),
        (col("doc_id") % 3 =!= 0).as("clean"))
    val nChars = length(col("text")).cast("long")
    // ratios scaled x10 (r11): feature standardization so 3 GD steps
    // produce a decisive model — at the raw 0..0.3 scale the punct
    // gradient was too small and the model converged to the base rate
    def ratio(c: org.apache.spark.sql.Column) =
      (c * 10L).cast("double") / (nChars + lit(1L)).cast("double")
    val feats = d.select(col("doc_id"),
        (least(nChars, lit(2000L)).cast("double") / 1000.0).as("f_len"),
        ratio(reCount(col("text"), "[.,;:!?]")).as("f_punct"),
        ratio(reCount(col("text"), "[0-9]")).as("f_digit"),
        ratio(reCount(col("text"), "[A-Z]")).as("f_upper"),
        when(col("clean"), 1.0).otherwise(0.0).as("y"))
      .localCheckpoint()
    val fc = Seq("f_len", "f_punct", "f_digit", "f_upper")
    val w = Classifier.trainLogistic(feats, fc, "y", iters = 3, lr = 2.0)
    Classifier.scoreLogistic(feats, fc, w)
      .select(col("doc_id"), col("y"), col("p"),
        (col("p") >= 0.5).as("pred"))
  }

  /** Classifier EVAL — ROC-AUC + reliability (calibration) buckets for
    * the quality classifier, completing the per-model eval-harness
    * family (retrieval row 84, dedup 108, lang-ID 117, ANN recall
    * rows, image banding 132): a model-based filter ships with the
    * curve its threshold is chosen from, not just predictions.
    *
    * AUC is the exact Mann-Whitney rank statistic WITH tie correction,
    * computed over the VALUE-GROUPED score table (round-6 scores bound
    * the domain, so the rank window runs over distinct scores — the
    * qCorpusStats bounded-domain percentile move — never a corpus
    * sort): 2·rankSum = Σ_groups nPos·(2·cumBefore + n + 1), AUC =
    * (2·rankSum − nPos(nPos+1)) / (2·nPos·nNeg) — all integers until
    * one final division. Calibration: decile buckets of p with exact
    * integer-micro mean predicted probability vs observed positive
    * rate; AUC rides every row as a broadcast 1-row marginal (the
    * qLangidEval pattern). */
  def qClassifierEval(spark: SparkSession, dir: String): DataFrame = {
    val s = qQualityClassifier(spark, dir)
      .select((round(col("p") * 1e6, 0)).cast("long").as("p6"),
        col("y").cast("long").as("y"))
      .localCheckpoint() // score groups + calibration buckets
    val grp = s.groupBy("p6")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("npos"))
    val wOrd = Window.orderBy("p6")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = grp
      .withColumn("cumb", sum(col("n")).over(wOrd) - col("n"))
    val tot = ranked.agg(
        sum(col("npos") * (lit(2) * col("cumb") + col("n") + 1))
          .as("rs2"),
        sum(col("npos")).as("np"),
        sum(col("n") - col("npos")).as("nn"))
      .select(round((col("rs2") - col("np") * (col("np") + 1))
          .cast("double")
          / (lit(2) * col("np") * col("nn")).cast("double"), 6)
        .as("auc"))
    val calib = s
      .withColumn("bucket", least(expr("p6 DIV 100000"), lit(9L))
        .cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        sum(col("p6")).as("sp6"))
      .select(col("bucket"), col("n"), col("n_pos"),
        round(col("sp6").cast("double") / col("n").cast("double") / 1e6,
          6).as("mean_pred"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("frac_pos"))
    calib.crossJoin(broadcast(tot))
  }

  // ---------------------------------------------------------------- tokens

  def qTokenCount(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val nChars = length(col("text")).cast("long")
    val ws = wordCount(col("text"))
    val re = reCount(col("text"), tokenPattern)
    d.select(col("doc_id"),
      ws.as("ws_tokens"), re.as("re_tokens"),
      ceil(nChars.cast("double") / lit(4.0)).cast("long").as("est_bpe_tokens"),
      when(ws === 0, lit(null))
        .otherwise(round(nChars.cast("double") / ws.cast("double"), 4))
        .as("chars_per_token"))
  }

  // ----------------------------------------------------------- fingerprint

  def qFingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"),
      rollingFingerprint(col("text")).as("fp"),
      rollingFingerprint(norm(col("text"))).as("fp_norm"),
      length(col("text")).cast("long").as("n_chars"))

  // ----------------------------------------------------------- winnowing

  private val WinK = 8          // k-gram width under the window
  private val WinW = 4          // winnowing window (guarantee t = w+k-1 = 11)
  private val WinMod = 1000000007L
  private val WinMaxDf = 20     // boilerplate-fingerprint posting cap

  /** Winnowed fingerprint picks (doc_id, pos, fp) — the native
    * Winnow(ShingleHash) composition, entirely row-local. */
  private def winnowPicks(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
        explode(graft.functions.Winnow(
          graft.functions.ShingleHash(col("text"), WinK, 131L, WinMod),
          WinW)).as("enc"))
      .select(col("doc_id"), expr("enc div 2147483648").as("pos"),
        (col("enc") % 2147483648L).as("fp"))

  /** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken 2003 —
    * MOSS): per-window rightmost-min over the k-gram rolling hashes,
    * the position-robust fingerprint scheme whose guarantee (every
    * match >= w+k-1 chars shares a pick) "every k-th hash" cannot give.
    * Per doc: positions, picks, pick-hash checksum and the measured
    * density in basis points — the paper's 2/(w+1) expected density is
    * the number this query audits (4000 bp at w=4). Row-local native
    * kernel scan + one map-side-combined aggregate; at 100 TB the
    * selected ~2/(w+1) fraction is all that ever shuffles. */
  def qWinnowFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val arr = graft.functions.ShingleHash(col("text"), WinK, 131L, WinMod)
    // n_pos from text LENGTH, not size(arr): a size(ShingleHash(..))
    // projected after the Generate re-runs the O(len) kernel once per
    // exploded pick (~230x per doc — measured 6.8 s at sf0.1, 0.6 s
    // after; the hash count for len >= k is len - k + 1 by definition)
    d.select(col("doc_id"),
        (length(col("text")).cast("long") - (WinK - 1)).as("n_pos"),
        explode(graft.functions.Winnow(arr, WinW)).as("enc"))
      .select(col("doc_id"), col("n_pos"),
        (col("enc") % 2147483648L).as("fp"))
      .groupBy(col("doc_id"), col("n_pos"))
      .agg(count(lit(1)).as("n_fp"),
        (sum(col("fp")) % WinMod).as("fp_sum"))
      .select(col("doc_id"), col("n_pos"), col("n_fp"), col("fp_sum"),
        expr("n_fp * 10000 div n_pos").as("density_bp"))
  }

  /** MOSS-style overlap detection over the winnowed index: distinct
    * fingerprint sets, boilerplate picks dropped by a df cap (>WinMaxDf
    * appears in too many docs to attribute), pairs from the POSTING
    * equi-join on fingerprint value — never all-pairs; overlap in basis
    * points of the smaller doc's fingerprint set. The index this joins
    * is 2/(w+1) the size of a full shingle posting table — winnowing's
    * whole point at corpus scale. */
  def qWinnowOverlap(spark: SparkSession, dir: String): DataFrame = {
    val picks = winnowPicks(docs(spark, dir))
      .select(col("doc_id"), col("fp")).distinct()
      .localCheckpoint() // reused 3x: df cap, per-doc sizes, both join sides
    val dfc = picks.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= WinMaxDf).select("fp")
    val post = picks.join(dfc, Seq("fp"))
    val nf = picks.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    val pairs = post.select(col("fp"), col("doc_id").as("ida"))
      .join(post.select(col("fp"), col("doc_id").as("idb")), Seq("fp"))
      .filter(col("ida") < col("idb"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
    pairs
      .join(nf.select(col("doc_id").as("ida"), col("n_fp").as("nfa")),
        Seq("ida"))
      .join(nf.select(col("doc_id").as("idb"), col("n_fp").as("nfb")),
        Seq("idb"))
      .select(col("ida"), col("idb"), col("n_shared"),
        expr("n_shared * 10000 div least(nfa, nfb)").as("ovl_bp"))
  }

  // ------------------------------------------------------------- novelty

  /** Cross-corpus n-gram novelty — the complement of row 57's
    * WITHIN-doc repetition: what fraction of a document's distinct
    * 8-shingles appears in NO other document (df = 1). Low novelty =
    * boilerplate shared across the corpus (template mass the dedup
    * family may still miss below its thresholds); high = genuinely
    * unique content — the "unique n-gram fraction" signal curation
    * stacks report beside quality scores. One distinct (doc, shingle)
    * scan off the native kernel, one df aggregate (map-side combined),
    * one join-back; the df table is shingle-keyed — the same posting
    * discipline as the dedup family, never all-pairs. Corpus mean
    * rides back as a 1-row marginal. */
  def qNgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val ds = d.select(col("doc_id"),
        explode(graft.functions.ShingleHash(col("text"), 8, 131L,
          1000000007L)).as("s"))
      .distinct()
      .localCheckpoint() // df aggregate + join-back
    val df = ds.groupBy("s").agg(count(lit(1)).as("df"))
    val per = ds.join(df, Seq("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_distinct"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_distinct"), col("n_unique"),
        expr("n_unique * 10000 div n_distinct").as("novelty_bp"))
      .localCheckpoint() // rows + marginal
    val m = per.agg(expr("sum(novelty_bp) div count(1)")
      .as("mean_novelty_bp"))
    per.crossJoin(broadcast(m))
  }

  // ----------------------------------------------------------- repetition

  /** Within-document repetition (Gopher/RefinedWeb-style quality
    * signal): duplicate 8-char-shingle fraction per document. Two hash
    * aggregates — (doc, shingle) multiplicity, then per-doc totals —
    * both map-side combined; the shingle scan is the native ShingleHash
    * kernel. dup_frac 0 = all n-grams unique; max_rep = the most
    * repeated shingle's multiplicity. */
  def qRepetition(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), lower(col("text")).as("text"))
    graft.operators.Dedup.shingleHashes(d, 8, 131L, 1000000007L)
      .groupBy(col("doc_id"), col("s")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum("c").cast("long").as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max("c").as("max_rep"))
      .withColumn("dup_frac",
        round(lit(1.0) - col("n_distinct").cast("double")
          / col("n_grams").cast("double"), 4))
  }

  // ------------------------------------------------------- LM perplexity

  /** CCNet-style language-model quality scoring: an order-3 add-one-
    * smoothed character LM is "trained" on a deterministic reference
    * slice of the corpus (doc_id % 5 == 0 — standing in for CCNet's
    * Wikipedia LM) and every document is scored by mean conditional
    * surprisal -log2 P(c3 | c1c2). The model IS a broadcast dimension:
    * the trigram-count table (bounded by charset^3, a few thousand
    * rows) broadcasts to every executor, so scoring is one corpus scan
    * + two broadcast hash joins + one hash aggregate — the 100 TB
    * plan. Bigram context counts are derived from trigram-prefix sums
    * (no second corpus scan). Integer outputs (n_tri, n_oov) are
    * exact; the mean-bits aggregate is rounded to 2 per SURVEY §3
    * float discipline. */
  case class LmScore(doc_id: Long, n_tri: Long, n_oov: Long,
                     oov_frac: Double, bits: Double, ppl: Double)

  /** Code-point trigram/bigram keys (21 bits per code point — covers
    * all of Unicode; matches the engine-side substr semantics, which
    * are code-point-based in both Spark and DuckDB). */
  private def cpKey(cps: Array[Int], at: Int, k: Int): Long = {
    var key = 0L
    var i = 0
    while (i < k) { key = (key << 21) | cps(at + i).toLong; i += 1 }
    key
  }

  /** Spark `round()` semantics (HALF_UP decimal rounding). */
  private def rnd(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  def qLmPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), lower(col("text")).as("t"))
    // model fit: one small job over the reference slice — the trigram
    // table is bounded by charset^3 regardless of corpus size, so the
    // collect is O(|charset|^3), not O(corpus) (the IVF-centroid
    // pattern: fit small, embed in the scan)
    val triRows = d.where(col("doc_id") % 5 === 0)
      .select(explode(expr(
        "transform(sequence(1, greatest(length(t) - 2, 1))," +
          " i -> substring(t, i, 3))")).as("tri"))
      .where(length(col("tri")) === 3)
      .groupBy("tri").agg(count(lit(1)).as("c3"))
      .collect()
    // sorted long-key arrays (binary search beats boxed maps in the
    // per-position hot loop)
    val tri = triRows.map { r =>
      val cps = r.getString(0).codePoints().toArray
      (cpKey(cps, 0, 3), r.getLong(1))
    }.sortBy(_._1)
    val triKeys = tri.map(_._1)
    val triVals = tri.map(_._2)
    val bi = tri.groupBy(_._1 >>> 21).view.mapValues(_.map(_._2).sum)
      .toArray.sortBy(_._1)
    val biKeys = bi.map(_._1)
    val biVals = bi.map(_._2)
    val ln2 = math.log(2.0)
    // scoring: ONE map-only corpus pass with the LM embedded — no
    // per-position explode, no shuffle, no join; per-doc surprisal
    // accumulates in a tight primitive loop
    implicit val encIn = Encoders.tuple(Encoders.scalaLong, Encoders.STRING)
    implicit val encOut = Encoders.product[LmScore]
    d.as[(Long, String)].mapPartitions(_.flatMap { case (id, t) =>
      val cps = t.codePoints().toArray
      val n = cps.length - 2
      if (n <= 0) Iterator.empty
      else {
        var oov = 0L
        var bitsSum = 0.0
        var i = 0
        while (i < n) {
          val i3 = java.util.Arrays.binarySearch(triKeys, cpKey(cps, i, 3))
          val c3 = if (i3 >= 0) triVals(i3) else 0L
          if (c3 == 0) oov += 1
          val i2 = java.util.Arrays.binarySearch(biKeys, cpKey(cps, i, 2))
          val c2 = if (i2 >= 0) biVals(i2) else 0L
          bitsSum += -(math.log((c3 + 1.0) / (c2 + 128.0)) / ln2)
          i += 1
        }
        val bits = rnd(bitsSum / n, 2)
        Iterator.single(LmScore(id, n.toLong, oov,
          rnd(oov.toDouble / n, 4), bits, rnd(math.pow(2.0, bits), 2)))
      }
    }).toDF()
  }

  /** WORD-level Kneser–Ney bigram LM (SURVEY §2 row 218, r17; Kneser &
    * Ney 1995 / Chen & Goodman 1999 — public literature): the
    * vocabulary-scale sibling of row 59's charset-bounded trigram LM.
    * A word vocab is corpus-sized, so the model is NOT collected to
    * the driver — it stays DISTRIBUTED as tables (bigram counts,
    * left-context totals, fan-out n1+(w1,•), continuation counts
    * n1+(•,w2)) and scoring is equi-joins against them: the
    * "model-as-data" shape a 100 TB LM-scoring pass actually has
    * (KenLM-style filtering in CCNet pipelines). Interpolated KN with
    * absolute discount D = 0.75:
    *   p(w2|w1) = (max(c(w1,w2) − D, 0) + D·n1fwd(w1)·pc(w2)) / c(w1)
    * backing off to the continuation distribution pc(w2) =
    * (cont(w2)+1)/(B+1000) for unseen left contexts (add-one on pc
    * keeps every probability a positive rational — the row-59 +128
    * floor convention). Bigram formation is ROW-LOCAL (slice/zip on
    * the word array — no per-position shuffle); per-doc mean bits
    * round(…, 2) absorbs SUM-order double noise exactly as row 59's
    * oracle established. Train slice doc_id % 5 = 0, scored corpus-
    * wide; docs with < 1 bigram drop (the row-59 contract). */
  def qKnBigramLm(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), expr(
        "filter(split(lower(text), ' '), w -> length(w) > 0)").as("ws"))
    val bi = d.select(col("doc_id"), explode(expr(
      "zip_with(slice(ws, 1, greatest(size(ws) - 1, 0)), " +
        "slice(ws, 2, greatest(size(ws) - 1, 0)), " +
        "(a, b) -> named_struct('w1', a, 'w2', b))")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .localCheckpoint() // train tables + scoring share the pairs
    val ref = bi.filter(col("doc_id") % 5 === 0)
    val cbi = ref.groupBy("w1", "w2").agg(count(lit(1)).as("cbi"))
      .localCheckpoint() // three train aggregates + the scoring join
    val w1t = cbi.groupBy("w1").agg(sum("cbi").as("cw1"),
      count(lit(1)).as("n1fwd"))
    val contT = cbi.groupBy("w2").agg(count(lit(1)).as("cont"))
    val b = cbi.count() // ONE bounded scalar: total bigram TYPES
    val scored = bi
      .join(cbi, Seq("w1", "w2"), "left")
      .join(w1t, Seq("w1"), "left")
      .join(contT, Seq("w2"), "left")
      .select(col("doc_id"),
        coalesce(col("cbi"), lit(0L)).as("c"),
        coalesce(col("cw1"), lit(0L)).as("c1"),
        coalesce(col("n1fwd"), lit(0L)).as("nf"),
        ((coalesce(col("cont"), lit(0L)) + 1.0)
          / lit(b + 1000.0)).as("pc"))
      .select(col("doc_id"), col("c"),
        when(col("c1") > 0,
          (greatest(col("c") - 0.75, lit(0.0))
            + lit(0.75) * col("nf") * col("pc")) / col("c1"))
          .otherwise(col("pc")).as("p"))
    scored.groupBy("doc_id").agg(
      count(lit(1)).as("n_bi"),
      sum(when(col("c") === 0, 1L).otherwise(0L)).as("n_unseen"),
      round(sum(when(col("c") === 0, 1.0).otherwise(0.0))
        / count(lit(1)), 4).as("unseen_frac"),
      round(sum(-log2(col("p"))) / count(lit(1)), 2).as("bits"))
      .select(col("doc_id"), col("n_bi"), col("n_unseen"),
        col("unseen_frac"), col("bits"),
        round(pow(2.0, col("bits")), 2).as("ppl"))
  }

  /** WORD-level Kneser–Ney TRIGRAM LM with continuation backoff
    * (SURVEY §2 row 222, r18; VERDICT r17 item 6 — the production
    * LM-scoring shape row 218's bigram stopped short of; Chen &
    * Goodman 1999 interpolated KN, public literature). Every table
    * stays DISTRIBUTED (model-as-data — the vocabulary is never
    * collected): trigram counts c(w1w2w3), context totals c(w1w2•)
    * with fan-out N1+(w1w2•), middle-order CONTINUATION counts
    * N1+(•w2w3) with their per-w2 totals N1+(•w2•) and fan-out
    * N1+(w2•), and unigram continuation N1+(•w3) — all derived from
    * ONE trigram-type table of the doc_id % 5 = 0 train slice, and
    * scoring is five equi-joins. D = 0.75 at both levels:
    *   p3 = (max(c−D,0) + D·N1+(w1w2•)·p2) / c(w1w2)     [c(w1w2) > 0]
    *   p2 = (max(N1+(•w2w3)−D,0) + D·N1+(w2•)·pc) / N1+(•w2•)
    *   pc = (N1+(•w3)+1) / (types23+1000)   [the row-218 +1/+1000 floor]
    * each level backing off to the next when its context is unseen.
    * Trigram formation is row-local; per-doc mean bits round(…, 2)
    * absorbs sum-order double noise (the row-59/218 convention); docs
    * with < 1 trigram drop. The oracle replays the identical smoothing
    * arithmetic over DuckDB's own count tables. */
  def qKnTrigramLm(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), expr(
        "filter(split(lower(text), ' '), w -> length(w) > 0)").as("ws"))
    // Spark's sequence(1, 0) steps DOWN — guard short docs explicitly
    val tri = d.select(col("doc_id"), explode(expr(
      """CASE WHEN size(ws) >= 3 THEN
        |  transform(sequence(1, size(ws) - 2), i -> named_struct(
        |    'w1', element_at(ws, i), 'w2', element_at(ws, i + 1),
        |    'w3', element_at(ws, i + 2)))
        |ELSE cast(array() as
        |  array<struct<w1:string,w2:string,w3:string>>) END"""
        .stripMargin)).as("t"))
      .select(col("doc_id"), col("t.w1").as("w1"), col("t.w2").as("w2"),
        col("t.w3").as("w3"))
      .localCheckpoint() // train tables + scoring share the tokens
    val ctri = tri.filter(col("doc_id") % 5 === 0)
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))
      .localCheckpoint() // four derived tables + the scoring join
    val ctx12 = ctri.groupBy("w1", "w2")
      .agg(sum("c3").as("c12"), count(lit(1)).as("nf12"))
    val mid = ctri.groupBy("w2", "w3").agg(count(lit(1)).as("nmid"))
      .localCheckpoint() // midctx + cont3 + scoring share it
    val midctx = mid.groupBy("w2")
      .agg(sum("nmid").as("ntot2"), count(lit(1)).as("nf2"))
    val cont3 = mid.groupBy("w3").agg(count(lit(1)).as("cont"))
    val b23 = mid.count() // ONE bounded scalar: (w2,w3) TYPE count
    val scored = tri
      .join(ctri, Seq("w1", "w2", "w3"), "left")
      .join(ctx12, Seq("w1", "w2"), "left")
      .join(mid, Seq("w2", "w3"), "left")
      .join(midctx, Seq("w2"), "left")
      .join(cont3, Seq("w3"), "left")
      .select(col("doc_id"),
        coalesce(col("c3"), lit(0L)).as("c"),
        coalesce(col("c12"), lit(0L)).as("c12"),
        coalesce(col("nf12"), lit(0L)).as("nf12"),
        coalesce(col("nmid"), lit(0L)).as("nmid"),
        coalesce(col("ntot2"), lit(0L)).as("ntot2"),
        coalesce(col("nf2"), lit(0L)).as("nf2"),
        ((coalesce(col("cont"), lit(0L)) + 1.0)
          / lit(b23 + 1000.0)).as("pc"))
      .withColumn("p2",
        when(col("ntot2") > 0,
          (greatest(col("nmid") - 0.75, lit(0.0))
            + lit(0.75) * col("nf2") * col("pc")) / col("ntot2"))
          .otherwise(col("pc")))
      .withColumn("p3",
        when(col("c12") > 0,
          (greatest(col("c") - 0.75, lit(0.0))
            + lit(0.75) * col("nf12") * col("p2")) / col("c12"))
          .otherwise(col("p2")))
    scored.groupBy("doc_id").agg(
      count(lit(1)).as("n_tri"),
      sum(when(col("c") === 0, 1L).otherwise(0L)).as("n_unseen"),
      round(sum(when(col("c") === 0, 1.0).otherwise(0.0))
        / count(lit(1)), 4).as("unseen_frac"),
      round(sum(-log2(col("p3"))) / count(lit(1)), 2).as("bits"))
      .select(col("doc_id"), col("n_tri"), col("n_unseen"),
        col("unseen_frac"), col("bits"),
        round(pow(2.0, col("bits")), 2).as("ppl"))
  }

  // ------------------------------------------------------------ BPE train

  /** Merge rounds trained by q_bpe_train / priced by the fertility rows:
    * 5 rounds (r12, up from 2) so the vocab trajectory is non-trivial
    * and later rounds can merge pairs CONTAINING earlier placeholder
    * symbols (the real BPE recursion). Placeholders are chr(1)..chr(5)
    * (base 0): below every corpus char in both UTF-16 code-unit and
    * UTF-8 byte order, so the argmax tiebreak stays engine-identical. */
  private[queries] val BpeRounds = 5

  /** The deep chain's merges (r16): deep enough that the vocab
    * trajectory crosses into genuine BPE recursion (merges whose halves
    * are THEMSELVES placeholder symbols appear from the ~30s on; the
    * curve reaches ~2.3 chars/token from 1.0). Placeholders are
    * chr(0x250 + r), the IPA block: caseless, and the corpus' 25 ASCII
    * chars leave 64 rounds collision-free. */
  private[queries] val BpeDeepRounds = 64

  /** The BPE round-0 corpus: lowercased text, spread once before the
    * merge chain. Without the spread every round's kernel scan ran at
    * the scan's parallelism (1 at the bench sfs — one row group); the
    * chain's narrow per-round replace keeps the spread layout, so this
    * is one round-robin exchange in total (r18: the chain at sf0.1 went
    * 6.5-8.0 s -> 3.3-3.7 s; a per-round repartition measured 1.6x
    * slower). */
  private[queries] def bpeCorpus(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("lang"), lower(col("text")).as("t"))

  /** The fertility curve of the 5 merges trained on the BPE corpus: the
    * token count after each prefix k = 0..5 of them (k = 0 is the char
    * count) per `by` group, as ONE aggregate over the round-0 corpus. */
  private def bpeCurve(d: DataFrame, by: Seq[String]): DataFrame = {
    val corpus = bpeCorpus(d)
    val merges = Bpe.train(corpus, BpeRounds, 0).map(_.merge)
    val ks = 0 to BpeRounds
    val sums = ks.map(k => sum(length(Bpe.encode(col("t"), merges.take(k)))
      .cast("long")).as(s"n$k"))
    val steps = ks.map { k =>
      val (a, b) = if (k == 0) (0L, 0L)
        else (merges(k - 1).a.toLong, merges(k - 1).b.toLong)
      struct(lit(k.toLong).as("k"), lit(a).as("a"), lit(b).as("b"),
        col(s"n$k").as("n_tokens"))
    }
    corpus.groupBy(by.map(col): _*).agg(sums.head, sums.tail: _*)
      .select(by.map(col) :+ col("n0").as("n_chars") :+
        explode(array(steps: _*)).as("x"): _*)
      .select(Seq(col("x.k").as("k"), col("x.a").as("a"),
        col("x.b").as("b")) ++ by.map(col) ++ Seq(
        col("x.n_tokens").as("n_tokens"), col("n_chars"),
        expr("n_chars * 10000 div n_tokens").as("chars_per_token_x1e4")): _*)
  }

  /** Distributed BPE tokenizer training ([[Bpe]]): the
    * top-10 adjacent-pair counts AFTER the 5 merges (codepoints, not raw
    * strings, so placeholders hash portably) — correct only if every
    * round picked and applied the same merge as the oracle's
    * independently-unrolled SQL. Round 6's count table is that table;
    * its merge is not applied. */
  def qBpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Bpe.train(bpeCorpus(docs(spark, dir)), BpeRounds + 1, 0)
      .last.counts.sortBy { case (s, c) => (-c, s) }.take(10).toSeq
      .map { case (s, c) => (s >> 16, s & 0xffffL, c) }
      .toDF("a", "b", "cnt")
  }

  /** DEEP BPE (r16): q_bpe_train's chain run to 64 merges, emitting the
    * whole fertility curve k = 0..64. n_tokens(k) falls out of round
    * k + 1's count table (Σ pair counts + n_docs = Σ len), so the curve
    * costs nothing beyond the 65 count jobs (round 65's merge is not
    * applied); the oracle computes it with the identical formula. */
  def qBpeTrainDeep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rounds = Bpe.train(bpeCorpus(docs(spark, dir)),
      BpeDeepRounds + 1, 0x250)
    val curve = rounds.zipWithIndex.map { case (r, k) =>
      val (a, b) = if (k == 0) (0L, 0L)
        else (rounds(k - 1).merge.a.toLong, rounds(k - 1).merge.b.toLong)
      (k.toLong, a, b, r.counts.map(_._2).sum + r.rows)
    }
    val nChars = curve.head._4
    curve.toDF("k", "a", "b", "n_tokens")
      .select(col("k"), col("a"), col("b"), col("n_tokens"),
        lit(nChars).as("n_chars"),
        expr("n_chars * 10000 div n_tokens").as("chars_per_token_x1e4"))
  }

  /** Vocab-size fertility curve — the measurement a tokenizer's vocab
    * size is chosen from: corpus token count (and chars-per-token) at
    * 0..5 applied BPE merges. Every merge collapses its pair
    * occurrences into one symbol, so fertility (chars per token) rises
    * monotonically with vocab — this query prices each step of row
    * 75's training with the number that matters downstream (sequence
    * length ∝ 1/fertility). Same merges as q_bpe_train; all six token
    * sums are one aggregate over the round-0 corpus. */
  def qBpeFertility(spark: SparkSession, dir: String): DataFrame =
    bpeCurve(docs(spark, dir), Nil)

  /** Per-language BPE fertility (r13, VERDICT r12 item 6) — the number
    * multilingual vocab allocation actually decides on: the corpus-wide
    * curve (q_bpe_fertility) averages away exactly the question a
    * tokenizer budget answers, WHICH language's sequences shrink as the
    * shared vocab grows. Same GLOBAL merge chain as q_bpe_train (the
    * merges are corpus-argmax — one vocab for all languages, which is
    * what creates the allocation pressure being measured), each step's
    * token sum grouped per language in the same one aggregate: 6 vocab
    * steps × 5 languages, each row pricing that language's
    * chars-per-token at that vocab size. On this corpus the merges land
    * in shared template vocabulary, so the per-language curves move
    * together with small spreads — the honest readout for a corpus
    * whose languages share a generator; the planted-marker languages
    * differ in char mass, which the n_chars column keeps visible. */
  def qBpeFertilityLang(spark: SparkSession, dir: String): DataFrame =
    bpeCurve(docs(spark, dir), Seq("lang"))

  // --------------------------------------------- Unigram-LM train (r14)

  /** Max piece length, seed multi-piece budget, EM rounds, and the
    * integer floor score for pieces the hard-EM round assigns zero
    * count (ln-scale x1e4; ~e^-30, far below any real piece but
    * finite so the lattice stays connected). Shared verbatim with the
    * oracle's unrolled SQL. */
  private[queries] val UniMaxLen = 4
  private[queries] val UniSeedMulti = 64
  private[queries] val UniRounds = 2
  private[queries] val UniFloorScore = -300000L
  private val UniNegInf = -400000000000000L

  case class UniWord(w: String, f: Long)

  private def uniRound(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Distinct-word table with frequencies — SentencePiece's own
    * compression trick (Kudo 2018 trains over word counts, not raw
    * text): the corpus collapses to its distinct-word table ONCE, and
    * every EM pass runs over that (weighted) table. At 100 TB the
    * distinct-word table is the long tail (≪ corpus); the heavy
    * hitters cost one segmentation each regardless of corpus mass. */
  private def uniWords(d: DataFrame): DataFrame =
    d.select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).cast("long").as("f"))

  /** Viterbi E-step (hard EM): segment every distinct word with the
    * current integer scores, emit (piece, word-freq) usages, ONE
    * map-side-combined sum per round. Integer DP: scores are ln-scale
    * x1e4 longs, so the argmax is bit-identical in both engines; ties
    * break toward the LONGER piece (the only possible equal-value
    * candidates differ in length), replayed by the oracle's ORDER BY
    * l DESC. */
  private def uniSegmentCounts(words: org.apache.spark.sql.Dataset[UniWord],
                               scores: Map[String, Long]): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    words.mapPartitions { it =>
      it.flatMap { uw =>
        val w = uw.w
        val n = w.length
        val best = Array.fill(n + 1)(UniNegInf)
        best(0) = 0L
        var i = 1
        while (i <= n) {
          var l = 1
          while (l <= math.min(UniMaxLen, i)) {
            scores.get(w.substring(i - l, i)) match {
              case Some(sc) if best(i - l) + sc > best(i) =>
                best(i) = best(i - l) + sc
              case _ => ()
            }
            l += 1
          }
          i += 1
        }
        // backtrack, longer-piece tie-break (oracle: ORDER BY l DESC)
        val out = List.newBuilder[(String, Long)]
        var j = n
        while (j > 0) {
          var chosen = -1
          var l = math.min(UniMaxLen, j)
          while (l >= 1 && chosen < 0) {
            val p = w.substring(j - l, j)
            if (scores.get(p).exists(sc => best(j - l) + sc == best(j)))
              chosen = l
            l -= 1
          }
          require(chosen > 0, s"unigram: unsegmentable '$w' at $j")
          out += ((w.substring(j - chosen, j), uw.f))
          j -= chosen
        }
        out.result()
      }
    }.toDF("s", "f").groupBy("s").agg(sum("f").as("c"))
  }

  /** M-step over the driver-sized vocab: score = round(ln(c/T) x1e4)
    * for used pieces, the floor for zero-count ones (kept in the
    * lattice — final output prunes, EM does not). */
  private def uniMStep(vocab: Seq[String],
                       counts: Map[String, Long]): Map[String, Long] = {
    val t = counts.values.sum.toDouble
    vocab.map { p =>
      val c = counts.getOrElse(p, 0L)
      p -> (if (c == 0L) UniFloorScore
            else uniRound(math.log(c / t) * 1e4))
    }.toMap
  }

  /** Unigram-LM (SentencePiece-style) tokenizer training (VERDICT r13
    * item 3 — the missing half of the tokenizer family; Kudo 2018,
    * arXiv:1804.10959): seed vocab = every corpus char + the top-64
    * multi-char substrings (len 2-4) by weighted occurrence count;
    * then UniRounds hard-EM iterations where the E-step is a Viterbi
    * re-segmentation of the distinct-word table (ONE map-side-combined
    * usage-count aggregate per round — the qBpeTrain shape) and the
    * M-step renormalizes over the driver-sized vocab (bounded collect,
    * the IVF-centroid pattern). Scores are integer ln-x1e4 (the
    * qQualityClassifier bit-replay discipline), so the DuckDB oracle
    * retrains the identical model: same seed, same integer DP with the
    * same longer-piece tie-break, same floors. Output = the final
    * vocab (zero-count pieces pruned) with usage counts, scores and
    * rank — computed distributed from the round-2 usage table (the
    * only window runs over the vocab-bounded count table). */
  /** Shared training chain: seed vocab from the weighted substring
    * table (chars + top-UniSeedMulti multi-char pieces — one bounded
    * aggregate + two vocab-sized collects), then UniRounds-1 hard-EM
    * rounds each collecting only the vocab-sized usage counts. Returns
    * the checkpointed word table + the final scores (the last round's
    * usage table stays distributed at the call sites). */
  private def uniTrain(d: DataFrame)
      : (org.apache.spark.sql.Dataset[UniWord], Map[String, Long]) = {
    import d.sparkSession.implicits._
    val words = uniWords(d).localCheckpoint().as[UniWord]
    val subs = words.toDF()
      .select(col("f"), explode(flatten(
        transform(sequence(lit(1), length(col("w"))), i =>
          transform(sequence(lit(1),
            least(lit(UniMaxLen), length(col("w")) - i + 1)), l =>
            col("w").substr(i, l))))).as("s"))
      .groupBy("s").agg(sum("f").as("c"))
      .localCheckpoint() // chars + top-multi read it, nothing after
    val (chars, multi) =
      try (subs.filter(length(col("s")) === 1)
          .collect().map(r => (r.getString(0), r.getLong(1))),
        subs.filter(length(col("s")) >= 2)
          .orderBy(col("c").desc, col("s").asc).limit(UniSeedMulti)
          .collect().map(r => (r.getString(0), r.getLong(1))))
      finally Bpe.release(subs)
    val vocab = (chars ++ multi).map(_._1).toSeq
    var scores = uniMStep(vocab, (chars ++ multi).toMap)
    for (_ <- 1 until UniRounds) {
      val c = uniSegmentCounts(words, scores)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      scores = uniMStep(vocab, c)
    }
    (words, scores)
  }

  def qUnigramTrain(spark: SparkSession, dir: String): DataFrame = {
    val (words, scores) = uniTrain(docs(spark, dir))
    val cFinal = uniSegmentCounts(words, scores)
    val t = cFinal.agg(sum("c").as("t"))
    cFinal.crossJoin(broadcast(t))
      .select(col("s").as("piece"),
        length(col("s")).cast("long").as("len"),
        col("c").cast("long").as("cnt"),
        round(log(col("c").cast("double") / col("t").cast("double"))
          * 1e4, 0).cast("long").as("score_x1e4"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("piece").asc)).cast("long"))
  }

  /** Per-word piece counts under the trained model — the serve-side
    * artifact (same DP as uniSegmentCounts, emitting one row per
    * distinct word instead of per piece). */
  private def uniWordPieceCounts(
      words: org.apache.spark.sql.Dataset[UniWord],
      scores: Map[String, Long]): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    words.mapPartitions { it =>
      it.map { uw =>
        val w = uw.w
        val n = w.length
        val best = Array.fill(n + 1)(UniNegInf)
        best(0) = 0L
        var i = 1
        while (i <= n) {
          var l = 1
          while (l <= math.min(UniMaxLen, i)) {
            scores.get(w.substring(i - l, i)) match {
              case Some(sc) if best(i - l) + sc > best(i) =>
                best(i) = best(i - l) + sc
              case _ => ()
            }
            l += 1
          }
          i += 1
        }
        var np = 0L
        var j = n
        while (j > 0) {
          var chosen = -1
          var l = math.min(UniMaxLen, j)
          while (l >= 1 && chosen < 0) {
            val p = w.substring(j - l, j)
            if (scores.get(p).exists(sc => best(j - l) + sc == best(j)))
              chosen = l
            l -= 1
          }
          require(chosen > 0, s"unigram: unsegmentable '$w' at $j")
          np += 1
          j -= chosen
        }
        (w, np)
      }
    }.toDF("w", "np")
  }

  /** Unigram ENCODE — the serve path of the trained model (the
    * build/serve split the IVF/PQ/ER/CC families all carry, applied
    * to the tokenizer): per document, token count under the final
    * vocab's Viterbi segmentation. The corpus is never re-segmented
    * per document — the DISTINCT-WORD piece-count table (one DP per
    * distinct word, the artifact a deployment persists) equi-joins
    * the exploded doc words (AQE decides the join — the word table is
    * scale-proportional, never force-broadcast), ONE rollup per doc.
    * Oracle replays the chain and derives per-word piece counts from
    * the backtrack join. */
  def qUnigramEncode(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val (words, scores) = uniTrain(d)
    val wpc = uniWordPieceCounts(words, scores)
    d.select(col("doc_id").cast("long").as("doc_id"),
      explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(wpc, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long")).as("n_chars"),
        sum("np").as("n_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_chars"),
        col("n_tokens"),
        expr("n_chars * 10000 div n_tokens").as("chars_per_token_x1e4"))
  }

  /** Fertility: unigram vs the BPE chain at matched corpus (VERDICT
    * r13 item 3's comparison row) — tokens and chars-per-token for (a)
    * raw chars, (b) the 5-round BPE chain of q_bpe_train, (c) the
    * trained unigram model's final segmentation. BPE counts spaces
    * (it tokenizes running text); unigram pre-tokenizes on whitespace
    * (spaces are not pieces), so each row carries ITS OWN char mass —
    * the honest per-tokenizer accounting. */
  def qUnigramFertility(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val (words, scores) = uniTrain(d)
    val uniTok = uniSegmentCounts(words, scores)
      .agg(sum("c").cast("long").as("n_tokens"))
    val uniChars = words.toDF()
      .agg(sum(length(col("w")).cast("long") * col("f")).as("n_chars"))
    // BPE twin: q_bpe_train's merges; its k = 0 step is the char count
    bpeCurve(d, Nil)
      .filter(col("k").isin(0L, BpeRounds.toLong))
      .select(when(col("k") === 0L, lit("chars")).otherwise(lit("bpe5"))
        .as("tok"), col("n_tokens"), col("n_chars"))
      .unionAll(uniTok.crossJoin(broadcast(uniChars))
        .select(lit("unigram").as("tok"), col("n_tokens"), col("n_chars")))
      .withColumn("chars_per_token_x1e4",
        expr("n_chars * 10000 div n_tokens"))
  }

  /** Per-language distinctive keywords — the corpus-report staple
    * (what IS each slice about): per (lang, word) term frequency in
    * basis points of the language's token mass, restricted to the
    * DISTINCTIVE vocabulary (df <= 3 of 5 languages — a hard idf gate:
    * the raw corpus is measured label-independent with every one of
    * its 31 words in all five languages, so without the gate sheer
    * template frequency drowns every marker, and the rational linear
    * idf surrogate measurably loses too; ln is banned cross-engine),
    * top-5 per language by (tf-share desc, word asc). Runs over the
    * langid family's planted text, whose analytic (doc_id, lang)
    * arithmetic the oracle recomputes word for word. The
    * rank window runs over the VOCAB-bounded (lang, word) count table
    * — thousands of rows at any corpus size — never the corpus; the
    * scan itself is one split + one map-side-combined count. The
    * planted language markers surface exactly: each language's top
    * keywords are its own stopword plants. */
  def qLangKeywords(spark: SparkSession, dir: String): DataFrame = {
    val d = langidPlantedText(docs(spark, dir))
      .select(col("lang"), col("t"))
    val words = d.select(col("lang"),
      explode(filter(split(lower(col("t")), "[^a-z]+"),
        w => length(w) > lit(0))).as("word"))
    val lw = words.groupBy("lang", "word").agg(count(lit(1)).as("tf"))
      .localCheckpoint() // df + totals + rank all read it
    val dfl = lw.groupBy("word")
      .agg(count(lit(1)).as("df_langs"))
    val tot = lw.groupBy("lang").agg(sum("tf").as("lang_tokens"))
    val scored = lw.join(broadcast(dfl), Seq("word"))
      .join(broadcast(tot), Seq("lang"))
      .filter(col("df_langs") <= 3) // distinctive: <= 3 of 5 languages
      .select(col("lang"), col("word"), col("tf"), col("df_langs"),
        expr("tf * 10000 div lang_tokens").as("score"))
    val w = Window.partitionBy("lang")
      .orderBy(col("score").desc, col("word").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
  }

  // ----------------------------------------------------------------- BM25

  private val Bm25Terms = Seq("data", "model", "training")
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val Bm25TopK = 20

  /** BM25 retrieval scoring — the index/rank shape a RAG or search
    * pipeline builds over the corpus. SINGLE corpus tokenize: one
    * groupBy(doc_id) computes the doc length AND the query terms' tf as
    * conditional sums in the same aggregate (3 query terms -> 3
    * conditional columns, unpivoted afterwards into (doc_id, w, tf)
    * posting rows — carrying len along, so the old lens join vanishes
    * too). The one-row-per-doc result is localCheckpoint'd because both
    * the corpus stats (N, avg len) and the posting table derive from it
    * — without the cut the tokenize would re-run per consumer (the r7
    * bench measured exactly that: lens fed stats AND the score join, so
    * the corpus tokenized twice). df per term derives from the posting
    * table. Score = Σ idf·tf·(k1+1)/(tf + k1·(1-b+b·len/avglen)) with
    * idf = ln(1 + (N-df+0.5)/(df+0.5)); k1/b and the 0.5s are written
    * as explicit doubles on both sides (DuckDB bare decimals are exact
    * DECIMAL). Top-20 by (score desc, doc_id) — deterministic. */
  def qBm25(spark: SparkSession, dir: String): DataFrame =
    bm25Scores(spark, dir)
      .orderBy(col("score").desc, col("doc_id")).limit(Bm25TopK)

  /** Per-doc BM25 scores, UNRANKED — the shared scoring stage behind
    * qBm25's top-20 and the RRF hybrid fusion's sparse leg
    * (AnnQueries.qRrfFusion). */
  private[graft] def bm25Scores(spark: SparkSession,
                                dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), lower(col("text")).as("t"))
    val toks = d.select(col("doc_id"),
      explode(split(col("t"), "\\W+")).as("w"))
      .where(length(col("w")) > 0)
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("w") === t, 1L).otherwise(0L)).as(s"tf$i")
    }
    val perDoc = toks.groupBy("doc_id")
      .agg(count(lit(1)).as("len"), tfCols: _*)
      .localCheckpoint()
    val stats = perDoc.agg(count(lit(1)).as("n"),
      sum("len").cast("double").as("total_len"))
    val tf = perDoc
      .select(col("doc_id"), col("len"),
        explode(array(Bm25Terms.zipWithIndex.map { case (t, i) =>
          struct(lit(t).as("w"), col(s"tf$i").as("tf"))
        }: _*)).as("e"))
      .select(col("doc_id"), col("len"),
        col("e.w").as("w"), col("e.tf").as("tf"))
      .where(col("tf") > 0)
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val term = col("tf").cast("double")
    val idf = log(lit(1.0) + (col("n").cast("double") - col("df") + 0.5)
      / (col("df") + 0.5))
    val norm = lit(Bm25K1) * (lit(1.0 - Bm25B)
      + lit(Bm25B) * col("len").cast("double")
        * col("n").cast("double") / col("total_len"))
    val scored = tf
      .join(broadcast(df), "w")
      .crossJoin(broadcast(stats))
      .withColumn("s", idf * term * lit(Bm25K1 + 1.0) / (term + norm))
      .groupBy("doc_id")
      .agg(round(sum("s"), 4).as("score"),
        count(lit(1)).as("n_terms"))
    scored
  }

  // ------------------------------------------------------ NFC normalization

  case class NfcRow(doc_id: Long, len_raw: Long, len_nfc: Long,
                    changed: Boolean, cp_sum: Long)

  /** Unicode NFC normalization (the canonicalization pass a multilingual
    * corpus runs before hashing/dedup — decomposed accents must equal
    * their precomposed forms or identical text dedups apart). The ASCII
    * corpus is already NFC, so deterministic DECOMPOSED sequences
    * (e + U+0301 combining acute, 1 + doc_id % 3 of them) are planted
    * from doc_id on both sides — the JVM's java.text.Normalizer then has
    * real compositions to perform, and the oracle's nfc_normalize must
    * agree on every length and code-point checksum. Code-point counts
    * (not UTF-16 units) mirror DuckDB len() semantics. */
  def qNormalizeUnicode(spark: SparkSession, dir: String): DataFrame = {
    implicit val encIn = Encoders.tuple(Encoders.scalaLong, Encoders.STRING)
    implicit val encOut = Encoders.product[NfcRow]
    val planted = concat(col("text"), lit(" cafe"),
      repeat(lit("e\u0301"), (lit(1) + col("doc_id") % 3).cast("int")))
    docs(spark, dir)
      .select(col("doc_id"), planted.as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val nfc = java.text.Normalizer.normalize(
          t, java.text.Normalizer.Form.NFC)
        def cps(s: String): Long = s.codePointCount(0, s.length).toLong
        var sum = 0L
        nfc.codePoints().forEach(c => sum += c)
        NfcRow(id, cps(t), cps(nfc), t != nfc, sum)
      }).toDF()
  }

  // ---------------------------------------------------------- PII redaction

  private val EmailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhonePat = "\\+[0-9]{1,2} [0-9]{3}-[0-9]{4}"
  private val IpPat = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** PII detection + redaction (row-local, codegen'd regex — the
    * pre-training scrub pass). The synthetic corpus carries no PII, so
    * the query plants deterministic contact strings derived from
    * doc_id (two emails, a phone, an IPv4) and the oracle plants the
    * same — the regexes then have real work to do and the counts and
    * redacted length are exact on both sides. Patterns are restricted
    * to the Java-regex/RE2 common subset (char classes, bounded
    * repetition — no lookaround) so both engines match identically. */
  def qPiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val t = concat(lower(col("text")),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or admin"), col("doc_id").cast("string"),
      lit("@mail.test call +1 555-0199 ip 10."),
      (col("doc_id") % 256).cast("string"), lit(".0.1"))
    val red = regexp_replace(regexp_replace(regexp_replace(
      col("t"), EmailPat, "<EMAIL>"), PhonePat, "<PHONE>"), IpPat, "<IP>")
    docs(spark, dir).select(col("doc_id"), t.as("t"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(EmailPat), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("t"), lit(PhonePat), lit(0)))
          .cast("long").as("n_phones"),
        size(regexp_extract_all(col("t"), lit(IpPat), lit(0)))
          .cast("long").as("n_ips"),
        length(red).cast("long").as("red_len"))
  }

  // ------------------------------------------------- boilerplate removal

  /** Line-level boilerplate removal (the RefinedWeb/CCNet pass): a line
    * appearing in ≥35% of its SOURCE's documents (and ≥3 docs) is
    * nav/footer furniture, not content — remove it and keep the rest.
    * The corpus text is single-line, so the page structure is PLANTED
    * deterministically (the langid/PII move): a per-source header on
    * every doc (100% df — always removed), a global footer on even
    * doc_ids (~50% — removed), a newsletter line on doc_id%3 (~33% —
    * hovers AT the 35% threshold, so its fate varies per source with
    * the doc_id residue mix: a real threshold, not a constant), and the
    * body (df=1 — always kept). Plan: line df is one (source, line)
    * hash aggregate; qualifying boilerplate lines are BOUNDED (a few
    * per source at any sf) so the removal join is a broadcast-back
    * anti-mark, never a corpus-sized shuffle join; reassembly sorts
    * each doc's kept lines by position inside one aggregate. */
  def qBoilerplateLines(spark: SparkSession, dir: String): DataFrame = {
    val page = concat(
      lit("home about contact login "), col("source"), lit("\n"),
      col("text"),
      when(col("doc_id") % 3 === 0,
        lit("\nsubscribe to our newsletter")).otherwise(lit("")),
      when(col("doc_id") % 2 === 0,
        lit("\ncopyright example com all rights reserved"))
        .otherwise(lit("")))
    val lines = docs(spark, dir)
      .select(col("doc_id"), col("source"),
        posexplode(split(page, "\n")).as(Seq("pos", "line")))
      .localCheckpoint() // df aggregate + marked join-back
    val srcN = lines.groupBy("source")
      .agg(countDistinct("doc_id").as("n_src_docs"))
    val boil = lines.groupBy("source", "line")
      .agg(count(lit(1)).as("df"))
      .join(broadcast(srcN), Seq("source"))
      .filter(col("df") >= 3 && col("df") * 100 >= col("n_src_docs") * 35)
      .select(col("source"), col("line"), lit(true).as("boil"))
    lines.join(broadcast(boil), Seq("source", "line"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("boil"), 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("boil"), length(col("line")).cast("long"))
          .otherwise(0L)).as("chars_removed"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("boil").isNull,
            struct(col("pos"), col("line"))))),
          s => s.getField("line")), "\n")).as("cleaned_hash"))
  }

  // ---------------------------------------------------- license detection

  /** License phrase inventory for code/corpus compliance scanning —
    * each phrase border-free (same AC/oracle contract as Blocklist). */
  private[graft] lazy val LicensePhrases: Seq[(String, String)] = {
    val ps = Seq(
      "apache license version 2" -> "permissive",
      "permission is hereby granted free of charge" -> "permissive",
      "bsd 3-clause license" -> "permissive",
      "gnu general public license" -> "copyleft",
      "mozilla public license" -> "copyleft",
      "all rights reserved proprietary" -> "proprietary")
    ps.foreach { case (t, _) =>
      require((1 until t.length).forall(k =>
        t.substring(0, k) != t.substring(t.length - k)),
        s"license phrase '$t' has a border")
    }
    ps
  }

  /** License detection (the BigCode/The-Stack compliance gate): scan
    * every document against an SPDX-ish phrase inventory, one
    * Aho–Corasick automaton PER CLASS (permissive/copyleft/
    * proprietary), and classify with copyleft > proprietary >
    * permissive precedence — the conservative order a license audit
    * wants (a dual-licensed file is the restrictive thing). License
    * text is planted deterministically (doc_id%11, phrase rotating by
    * doc_id div 11) since the corpus has none; the engine does the real
    * multi-automaton scan work, the oracle derives every count
    * analytically from the same arithmetic — generation and extraction
    * check each other (the langid contract). Row-local, zero shuffles
    * beyond the scan. */
  def qLicenseDetect(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.BlocklistScan
    val planted = when(col("doc_id") % 11 === 0,
      concat(col("text"), lit(" "),
        LicensePhrases.map(_._1).zipWithIndex.foldLeft(lit("")) {
          case (acc, (p, i)) =>
            when((col("doc_id") / 11).cast("long") % 6 === i, lit(p))
              .otherwise(acc)
        })).otherwise(col("text"))
    def hits(cls: String) =
      BlocklistScan(planted,
        LicensePhrases.filter(_._2 == cls).map(_._1))
    docs(spark, dir)
      .select(col("doc_id"),
        hits("permissive").as("pm"), hits("copyleft").as("cl"),
        hits("proprietary").as("pr"))
      .select(col("doc_id"),
        col("pm.n_hits").as("n_permissive"),
        col("cl.n_hits").as("n_copyleft"),
        col("pr.n_hits").as("n_proprietary"),
        when(col("cl.n_hits") > 0, "copyleft")
          .when(col("pr.n_hits") > 0, "proprietary")
          .when(col("pm.n_hits") > 0, "permissive")
          .otherwise("none").as("license_class"),
        coalesce(least(nullif(col("pm.first_pos"), lit(0L)),
          nullif(col("cl.first_pos"), lit(0L)),
          nullif(col("pr.first_pos"), lit(0L))), lit(0L))
          .as("first_pos"))
  }

  // ----------------------------------------------------- mojibake repair

  /** Encoding-anomaly (mojibake) detection + repair — the ftfy pass a
    * web corpus needs: UTF-8 text misread as CP1252 turns á (C3 A1)
    * into the two-char scar Ã¡. The corpus is ASCII, so the hazard is
    * planted end-to-end (doc_id%9): intended text (a→á, e→é), then the
    * double-decode corruption (á→Ã¡, é→Ã©); the detector counts scars,
    * the repairer reverses them, and the audit column proves repaired
    * == intended — plus a false-positive guarantee on the 8/9 clean
    * docs (n_moji must be 0). Row-local string expressions only. */
  def qMojibake(spark: SparkSession, dir: String): DataFrame = {
    val (a, e) = ("\u00e1", "\u00e9") // the intended accented chars
    val (ma, me) = ("\u00c3\u00a1", "\u00c3\u00a9") // their CP1252 scars
    val sel = col("doc_id") % 9 === 0
    val intended = when(sel,
      translate(col("text"), "ae", a + e)).otherwise(col("text"))
    val corrupted = when(sel,
      regexp_replace(regexp_replace(intended, a, ma), e, me))
      .otherwise(col("text"))
    val repaired = regexp_replace(
      regexp_replace(corrupted, ma, a), me, e)
    docs(spark, dir)
      .select(col("doc_id"),
        (length(corrupted) - length(repaired)).cast("long").as("n_moji"),
        (length(corrupted) > length(repaired)).as("detected"),
        (repaired === intended).as("repaired_ok"),
        length(corrupted).cast("long").as("len_corrupted"),
        length(repaired).cast("long").as("len_repaired"))
  }

  // ---------------------------------------------------- tokenizer coverage

  /** Tokenizer charset-coverage audit (OOV rate) — the check a
    * tokenizer's training slice must pass before anyone encodes the
    * full corpus with it: characters the trainer never saw become <unk>
    * (or byte-fallback blowup) at encode time, and a lossy encode is
    * silent data damage. Vocabulary = the distinct characters of the
    * doc_id%2==0 train slice (a driver-bounded collect — charset-sized,
    * the LM-table precedent); audit = per doc, how many characters fall
    * outside it. The ASCII corpus covers itself, so OOV text is PLANTED
    * on doc_id%34==17 (odd ids — structurally disjoint from the even
    * train slice): 1+doc_id%3 copies of three non-Latin chars. The
    * count is one `translate`-deletion expression (no regex class to
    * escape) replayed verbatim by the oracle, which re-derives the
    * vocabulary itself in SQL. Map-only over the corpus after the tiny
    * vocab collect. */
  def qTokenizerCoverage(spark: SparkSession, dir: String): DataFrame = {
    val Oov = "\u03bb\u4e2d\u2022" // lambda, CJK, bullet — not in corpus
    val sel = col("doc_id") % 34 === 17
    val t = when(sel, concat(col("text"), lit(" "),
      repeat(lit(Oov), (lit(1) + col("doc_id") % 3).cast("int"))))
      .otherwise(col("text"))
    val base = docs(spark, dir)
      .select(col("doc_id"), t.as("t"), sel.as("is_planted"))
      .localCheckpoint() // vocab collect + audit scan
    val vocab = base.filter(col("doc_id") % 2 === 0)
      .select(explode(split(col("t"), "")).as("c"))
      .filter(length(col("c")) > 0)
      .distinct().collect().map(_.getString(0)).sorted.mkString
    base.select(col("doc_id"),
        length(col("t")).cast("long").as("n_chars"),
        length(translate(col("t"), vocab, "")).cast("long").as("n_oov"),
        col("is_planted"))
      .withColumn("oov_pm", expr("n_oov * 1000 div n_chars"))
      .withColumn("covered", col("n_oov") === 0L)
  }

  // -------------------------------------------------------- code detection

  /** Code-vs-prose detection — the routing gate a code-model pipeline
    * (StarCoder/The-Stack shape) runs to split a mixed crawl: symbol
    * density ([(){};:*] per kchar) and keyword hits (def/return/import/
    * if/var as whole words) are the two classic signals, combined into
    * an integer score. The prose corpus carries neither signal
    * (measured: zero symbols, zero keywords), so code is PLANTED
    * (doc_id%6, 1+d%4 repeats of a two-line function) — the engine does
    * the real regexp counting over every document, the oracle derives
    * the counts analytically from the plant arithmetic and the length
    * from the same constructed string. Row-local, zero shuffles. */
  def qCodeDetect(spark: SparkSession, dir: String): DataFrame = {
    val reps = (lit(1) + col("doc_id") % 4).cast("int")
    val snippet = concat(lit("\ndef f(x):\n    return x * "),
      (col("doc_id") % 7).cast("string"), lit(";"))
    val t = when(col("doc_id") % 6 === 0,
      concat(col("text"), repeat(snippet, reps))).otherwise(col("text"))
    docs(spark, dir)
      .select(col("doc_id"), t.as("t"))
      .select(col("doc_id"),
        length(col("t")).cast("long").as("n_chars"),
        regexp_count(col("t"), lit("[(){};:*]")).cast("long")
          .as("n_sym"),
        regexp_count(col("t"),
          lit("\\b(def|return|import|if|var)\\b")).cast("long")
          .as("n_kw"))
      .withColumn("code_score",
        expr("(n_sym * 10 + n_kw * 30) * 1000 div n_chars"))
      .withColumn("is_code", col("code_score") >= 100)
  }

  // --------------------------------------------------------------- oracles

  /** Shared BM25 scoring CTE chain ending in `bscore(doc_id, score,
    * n_terms)` — used by the q_bm25 oracle and the RRF fusion oracle
    * (AnnQueries). */
  private[graft] lazy val bm25ScoreCtes: String = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |             lower(text) AS t FROM documents),
       |tk AS (SELECT doc_id, w FROM d,
       |       LATERAL (SELECT unnest(regexp_split_to_array(t, '\\W+'))
       |                AS w) u
       |       WHERE len(w) > 0),
       |lens AS (SELECT doc_id, COUNT(*) AS len FROM tk GROUP BY 1),
       |st AS (SELECT COUNT(*) AS n, CAST(SUM(len) AS DOUBLE)
       |         AS total_len FROM lens),
       |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tk
       |       WHERE w IN ($terms) GROUP BY 1, 2),
       |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
       |sc AS (SELECT tf.doc_id,
       |         ln(CAST(1.0 AS DOUBLE)
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
       |                   * CAST(st.n AS DOUBLE) / st.total_len))
       |           AS s
       |       FROM tf JOIN df USING (w)
       |       JOIN lens ON lens.doc_id = tf.doc_id, st),
       |bscore AS (SELECT doc_id, ROUND(SUM(s), 4) AS score,
       |             COUNT(*) AS n_terms
       |           FROM sc GROUP BY doc_id)""".stripMargin
  }

  private val docsSql =
    "SELECT CAST(doc_id AS BIGINT) AS doc_id, text, lang, source FROM documents"

  /** DuckDB twin of the logistic-regression classifier: the 3 GD steps
    * unroll as CTE pairs (gradient aggregate, weight update). Exactness
    * comes from the engine's determinism contract — rational sigmoid
    * (no transcendentals) and integer-nano gradient sums — so every
    * weight is replayed bit-for-bit; z and the quantized terms use the
    * engine's exact fold orders. */
  private lazy val qualityClassifierOracle: String = {
    def zSql(w: String) =
      s"(((($w.wb + f_len * $w.wl) + f_punct * $w.wp)" +
        s" + f_digit * $w.wd) + f_upper * $w.wu)"
    def step(prev: String, g: String, next: String) =
      s"""$g AS (
         |  SELECT SUM(CAST(ROUND(e * f_len * 1e9, 0) AS BIGINT)) AS sl,
         |         SUM(CAST(ROUND(e * f_punct * 1e9, 0) AS BIGINT)) AS sp,
         |         SUM(CAST(ROUND(e * f_digit * 1e9, 0) AS BIGINT)) AS sd,
         |         SUM(CAST(ROUND(e * f_upper * 1e9, 0) AS BIGINT)) AS su,
         |         SUM(CAST(ROUND(e * 1e9, 0) AS BIGINT)) AS sb,
         |         COUNT(*) AS n
         |  FROM (SELECT 0.5 + z / (2.0 * (1.0 + abs(z))) - y AS e,
         |               f_len, f_punct, f_digit, f_upper
         |        FROM (SELECT ff.*, ${zSql(prev)} AS z
         |              FROM f ff, $prev) zz) ee),
         |$next AS (SELECT
         |    $prev.wl - 2.0 * (g.sl / 1e9) / g.n AS wl,
         |    $prev.wp - 2.0 * (g.sp / 1e9) / g.n AS wp,
         |    $prev.wd - 2.0 * (g.sd / 1e9) / g.n AS wd,
         |    $prev.wu - 2.0 * (g.su / 1e9) / g.n AS wu,
         |    $prev.wb - 2.0 * (g.sb / 1e9) / g.n AS wb
         |  FROM $g g, $prev)""".stripMargin
    s"""WITH d0 AS ($docsSql),
       |d AS (SELECT doc_id,
       |        text || CASE WHEN doc_id % 3 = 0
       |          THEN repeat(' !?!#', CAST(5 + doc_id % 7 AS INT))
       |          ELSE '' END AS text,
       |        doc_id % 3 <> 0 AS clean
       |      FROM d0),
       |f AS (SELECT doc_id,
       |        LEAST(len(text), 2000) / 1000.0 AS f_len,
       |        CAST(len(regexp_extract_all(text, '[.,;:!?]')) * 10
       |            AS DOUBLE)
       |          / CAST(len(text) + 1 AS DOUBLE) AS f_punct,
       |        CAST(len(regexp_extract_all(text, '[0-9]')) * 10
       |            AS DOUBLE)
       |          / CAST(len(text) + 1 AS DOUBLE) AS f_digit,
       |        CAST(len(regexp_extract_all(text, '[A-Z]')) * 10
       |            AS DOUBLE)
       |          / CAST(len(text) + 1 AS DOUBLE) AS f_upper,
       |        CASE WHEN clean THEN 1.0 ELSE 0.0 END AS y
       |      FROM d),
       |w0 AS (SELECT 0.0 AS wl, 0.0 AS wp, 0.0 AS wd, 0.0 AS wu,
       |              0.0 AS wb),
       |${step("w0", "g1", "w1")},
       |${step("w1", "g2", "w2")},
       |${step("w2", "g3", "w3")}
       |SELECT ff.doc_id, ff.y,
       |  ROUND(0.5 + z / (2.0 * (1.0 + abs(z))), 6) AS p,
       |  ROUND(0.5 + z / (2.0 * (1.0 + abs(z))), 6) >= 0.5 AS pred
       |FROM (SELECT ff.*, ${zSql("w3")} AS z FROM f ff, w3) ff""".stripMargin
  }

  private def stopSql(src: String, words: Seq[String]): String =
    s"len(regexp_extract_all($src, '\\b(${words.mkString("|")})\\b'))"

  /** SQL fragment mirroring wordCount() (0 for blank text). */
  private val wcSql =
    """CASE WHEN len(trim(text)) = 0 THEN 0
      |     ELSE len(regexp_split_to_array(trim(text), '\s+')) END"""
      .stripMargin.replace("\n", " ").replaceAll(" +", " ")

  /** SQL fragment mirroring the NULL-for-0-words per-word ratios. */
  private def perWordSql(num: String): String =
    s"CASE WHEN $wcSql = 0 THEN NULL ELSE ROUND(CAST($num AS DOUBLE) / CAST($wcSql AS DOUBLE), 4) END"

  /** Analytic langid score CTEs (ending in `p`): every score derived
    * from the SAME (doc_id, lang) arithmetic the engine's marker
    * planting uses — the oracle never runs the regex, so the planted
    * generation and the regex extraction CHECK EACH OTHER (the
    * PII/image-oracle precedent). Own plant (r12) = 2 + doc_id%5
    * profile words unless doc_id%13=0 (the honest-'und' stratum);
    * confusable-neighbor plant = 2 words when doc_id%7=0. Score =
    * 2·word-hits + char-bigram hits, where the per-(planted word,
    * scoring lang) bigram contribution is a STATIC 125-row VALUES
    * table computed here from the same profiles the engine scans
    * with; prediction = unique argmax with >=1 hit, else 'und'. */
  private lazy val langIdScoreCtes: String = {
    val prof = langidProfiles.toMap
    val bigs = langidBigrams.toMap
    def occ(w: String, b: String): Int =
      (0 to w.length - b.length).count(i => w.startsWith(b, i))
    // v(plang, idx, slang) = what planting word idx of plang's profile
    // adds to slang's score: 2 for the whole-word hit (profiles are
    // disjoint across languages) + that word's slang-bigram occurrences
    val tblRows = (for {
      (pl, ws) <- langidProfiles; (w, idx) <- ws.zipWithIndex
      (sl, _) <- langidProfiles
      v = (if (pl == sl) 2 else 0) + bigs(sl).map(b => occ(w, b)).sum
      if v > 0
    } yield s"('$pl', $idx, '$sl', $v)").mkString(", ")
    val nbRows = langidNeighbor
      .map { case (l, n) => s"('$l', '$n')" }.mkString(", ")
    val names = langidProfiles.map(l => s"score_${l._1}")
    val scoreCols = langidProfiles.map { case (l, _) =>
      s"CAST(COALESCE(SUM(CASE WHEN slang = '$l' THEN v END), 0)" +
        s" AS BIGINT) AS score_$l"
    }.mkString(",\n  ")
    val best = "GREATEST(" + names.mkString(", ") + ")"
    val nbest = names.map(n => s"CASE WHEN $n = $best THEN 1 ELSE 0 END")
      .mkString(" + ")
    val argmax = langidProfiles.reverse.foldLeft("'und'") {
      case (acc, (l, _)) =>
        s"CASE WHEN score_$l = $best THEN '$l' ELSE $acc END"
    }
    s"""tbl(plang, idx, slang, v) AS (SELECT * FROM (VALUES $tblRows)),
       |nbm(l, n) AS (SELECT * FROM (VALUES $nbRows)),
       |contrib AS (
       |  SELECT d.doc_id, t.slang, t.v
       |  FROM d, (SELECT unnest(generate_series(0, 4)) AS j) jj, tbl t
       |  WHERE d.doc_id % 13 <> 0 AND jj.j < 2 + d.doc_id % 5
       |    AND t.plang = d.lang AND t.idx = (d.doc_id + jj.j) % 5
       |  UNION ALL
       |  SELECT d.doc_id, t.slang, t.v
       |  FROM d JOIN nbm ON nbm.l = d.lang,
       |       (SELECT unnest([0, 2]) AS o) oo, tbl t
       |  WHERE d.doc_id % 7 = 0 AND t.plang = nbm.n
       |    AND t.idx = (d.doc_id + oo.o) % 5),
       |sc AS (SELECT d.doc_id, d.lang,
       |  $scoreCols
       |FROM d LEFT JOIN contrib c ON c.doc_id = d.doc_id
       |GROUP BY 1, 2),
       |p AS (SELECT doc_id, lang, ${names.mkString(", ")},
       |  CASE WHEN $best >= 1 AND ($nbest) = 1
       |       THEN $argmax ELSE 'und' END AS pred_lang
       |FROM sc)""".stripMargin
  }

  /** Shared winnowing replay: position-ordered k-gram rolling hashes →
    * per-window rightmost-min picks. The tie rule rides ONE integer key
    * `h * 2^21 + (2^20 - pos)`: window MIN selects the smallest hash and,
    * among equal hashes, the RIGHTMOST position (the paper's rule; the
    * native kernel's pop-while-back>=new deque does the same). pos < 2^20
    * by corpus contract (docs are < 1k chars), h < 2^31, so the key stays
    * < 2^52 — exact in BIGINT both engines. `cnt = LEAST(w, npos)` keeps
    * exactly the full windows, plus the single truncated window of a doc
    * with fewer than w hashes (every non-empty doc keeps >= 1 pick). */
  private lazy val winnowCtes: String =
    s"""d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, lower(text) AS t
       |       FROM documents),
       |ph AS (SELECT doc_id, pos, s AS h
       |       FROM (${TextSql.shingles("d", WinK, 131, WinMod)})),
       |ks AS (SELECT doc_id, pos, h,
       |         h * 2097152 + (1048576 - pos) AS wkey FROM ph),
       |wn AS (SELECT doc_id,
       |         MIN(wkey) OVER win AS mkey, COUNT(*) OVER win AS cnt,
       |         COUNT(*) OVER (PARTITION BY doc_id) AS npos
       |       FROM ks
       |       WINDOW win AS (PARTITION BY doc_id ORDER BY pos
       |                      ROWS BETWEEN CURRENT ROW AND ${WinW - 1}
       |                      FOLLOWING)),
       |picks AS (SELECT DISTINCT doc_id,
       |            CAST(1048576 - (mkey % 2097152) AS BIGINT) AS pos,
       |            CAST(mkey // 2097152 AS BIGINT) AS fp
       |          FROM wn WHERE cnt = LEAST($WinW, npos))""".stripMargin

  /** The fertility oracles: the token sum of every round's corpus d0..d5
    * of the unrolled chain, per `by` group, over that group's char sum. */
  private def bpeCurveSql(by: Seq[String]): String = {
    val keys = by.map(_ + ", ").mkString
    val groupBy = if (by.isEmpty) "" else by.mkString("GROUP BY ", ", ", "")
    val steps = (0 to BpeRounds).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS k, ${BpeSql.merge(k)}, $keys
         |  CAST(SUM(len(t)) AS BIGINT) AS n_tokens FROM d$k $groupBy"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH d0 AS (SELECT $keys lower(text) AS t FROM documents),
       |${BpeSql.rounds(BpeRounds, 0, by)},
       |u AS ($steps),
       |c0 AS (SELECT $keys n_tokens AS n_chars FROM u WHERE k = 0)
       |SELECT u.k, u.a, u.b, ${by.map("u." + _ + ", ").mkString}u.n_tokens,
       |  c0.n_chars,
       |  CAST(c0.n_chars * 10000 // u.n_tokens AS BIGINT)
       |    AS chars_per_token_x1e4
       |FROM u JOIN c0 ON ${(by.map(b => s"c0.$b = u.$b") :+ "TRUE")
         .mkString(" AND ")}""".stripMargin
  }

  // Unigram-LM oracle chain (r14): the SAME training the engine runs,
  // unrolled as recursive-CTE SQL — weighted substring seed, then per
  // EM round a forward Viterbi DP (recursive CTE carrying the last
  // UniMaxLen best values, integer ln-x1e4 scores so the argmax is
  // bit-identical), a backtrack CTE re-deriving each chosen piece with
  // the ORDER BY l DESC longer-piece tie-break, usage counts, and the
  // M-step re-scoring with the same zero-count floor.
  // DuckDB constraints that shaped this SQL (both discovered by
  // probe): correlated scalar subqueries inside a RECURSIVE part
  // silently evaluate to NULL, so every score/best lookup is a plain
  // JOIN; and shared CTEs must be AS MATERIALIZED or the recursive
  // chains re-inline each other exponentially (>60 s at 31 words vs
  // 0.1 s materialized). The backtrack exploits path-independence:
  // the argmax piece at position i doesn't depend on the path, so
  // `chosen` is a flat table built OUTSIDE the recursion and the
  // recursive walk is one equi-join per step.
  private def uniNegInfSql = "CAST(-400000000000000 AS BIGINT)"
  private def uniSetupSql: String =
    s"""words AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
       |    SELECT unnest(string_split(lower(text), ' ')) AS w
       |    FROM documents) z
       |  WHERE len(w) > 0 GROUP BY w),
       |subs AS MATERIALIZED (
       |  SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS s,
       |    SUM(f) AS c
       |  FROM words,
       |    LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) ii,
       |    LATERAL (SELECT unnest(generate_series(1, $UniMaxLen))
       |             AS l) ll
       |  WHERE i + l - 1 <= len(w) GROUP BY 1),
       |v0 AS MATERIALIZED (
       |  SELECT s, c FROM subs WHERE len(s) = 1
       |  UNION ALL
       |  SELECT s, c FROM (SELECT s, c FROM subs WHERE len(s) >= 2
       |                    ORDER BY c DESC, s ASC
       |                    LIMIT $UniSeedMulti) m),
       |sc0 AS MATERIALIZED (
       |  SELECT s, CAST(round(ln(c * 1.0 /
       |    (SELECT SUM(c) FROM v0)) * 10000, 0) AS BIGINT) AS sc
       |  FROM v0)""".stripMargin
  private def uniRoundSql(r: Int): String = {
    val sp = if (r == 1) "sc0" else s"sc${r - 1}"
    val cands = (1 to UniMaxLen).map(l =>
      s"CASE WHEN fr.i >= ${l - 1} THEN fr.b${l - 1} + " +
        s"COALESCE(s$l.sc, $uniNegInfSql) ELSE $uniNegInfSql END")
      .mkString(",\n    ")
    val joins = (1 to UniMaxLen).map(l =>
      s"  LEFT JOIN $sp s$l ON fr.i >= ${l - 1} AND " +
        s"s$l.s = substr(fr.w, CAST(fr.i + 2 - $l AS INT), $l)")
      .mkString("\n")
    val carried = (1 until UniMaxLen).map(l => s"fr.b${l - 1}")
      .mkString(", ")
    val lVals = (1 to UniMaxLen).map(l => s"($l)").mkString(",")
    s"""f$r AS (
       |  SELECT w, f, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS b0,
       |    $uniNegInfSql AS b1, $uniNegInfSql AS b2, $uniNegInfSql AS b3
       |  FROM words
       |  UNION ALL
       |  SELECT fr.w, fr.f, fr.i + 1,
       |    greatest($cands),
       |    $carried
       |  FROM f$r fr
       |$joins
       |  WHERE fr.i < len(fr.w)),
       |fb$r AS MATERIALIZED (SELECT w, i, b0 AS best FROM f$r),
       |chosen$r AS MATERIALIZED (
       |  SELECT w, i, l, s FROM (
       |    SELECT c.w, c.i, c.l, c.s,
       |      ROW_NUMBER() OVER (PARTITION BY c.w, c.i
       |                         ORDER BY c.l DESC) AS rn
       |    FROM (SELECT fb.w, fb.i, ls.l,
       |            substr(fb.w, CAST(fb.i - ls.l + 1 AS INT),
       |              CAST(ls.l AS INT)) AS s
       |          FROM fb$r fb, (VALUES $lVals) ls(l)
       |          WHERE fb.i > 0 AND ls.l <= fb.i) c
       |    JOIN fb$r p ON p.w = c.w AND p.i = c.i - c.l
       |    JOIN $sp v ON v.s = c.s
       |    JOIN fb$r cur ON cur.w = c.w AND cur.i = c.i
       |    WHERE p.best + v.sc = cur.best) z
       |  WHERE rn = 1),
       |bk$r AS (
       |  SELECT w, f, len(w) AS i FROM words
       |  UNION ALL
       |  SELECT b.w, b.f, b.i - ch.l
       |  FROM bk$r b JOIN chosen$r ch ON ch.w = b.w AND ch.i = b.i
       |  WHERE b.i > 0),
       |used$r AS MATERIALIZED (
       |  SELECT ch.s, SUM(b.f) AS c
       |  FROM bk$r b JOIN chosen$r ch ON ch.w = b.w AND ch.i = b.i
       |  GROUP BY 1),
       |vr$r AS MATERIALIZED (
       |  SELECT v0.s, COALESCE(u.c, 0) AS c
       |  FROM v0 LEFT JOIN used$r u USING (s)),
       |sc$r AS MATERIALIZED (
       |  SELECT s, CASE WHEN c = 0
       |    THEN CAST($UniFloorScore AS BIGINT)
       |    ELSE CAST(round(ln(c * 1.0 /
       |      (SELECT SUM(c) FROM vr$r)) * 10000, 0) AS BIGINT) END AS sc
       |  FROM vr$r)""".stripMargin
  }
  private def uniChainSql: String =
    (uniSetupSql +: (1 to UniRounds).map(uniRoundSql)).mkString(",\n")

  // ------------------------------------------------- suffix-array dedup

  /** Exact substring-level repeat analysis over the WHOLE corpus via a
    * distributed SUFFIX ARRAY (SURVEY §2 row 213; the Lee et al. 2022
    * exact-substring-dedup structure — see
    * [[graft.operators.SuffixArray]] for the prefix-doubling build and
    * the level-descent LCP). Per document:
    *   - n_pos: suffix positions contributed (= characters);
    *   - sa_ck: Σ rn·(pos+1) over the doc's suffixes — a checksum that
    *     pins the document's COMPLETE placement in the global suffix
    *     order (any rank perturbation anywhere in the corpus that
    *     touches this doc's suffixes moves it);
    *   - max_lcp: the longest repeat involving this doc — the max
    *     adjacent-suffix lcp over both sides of every neighbour pair
    *     the doc participates in (adjacency in suffix order attains
    *     the global maximum lcp, so this is the true longest repeated
    *     substring length for the doc);
    *   - max_lcp_xdoc / n_dup16_xdoc: same restricted to CROSS-doc
    *     neighbours, and the count of cross-doc neighbour pairs
    *     sharing a ≥16-char prefix — the shared-passage signal that
    *     substring dedup acts on (16 matches the shingle width of the
    *     row-63 span dedup, making the two operators comparable).
    *
    * The oracle is deliberately a DIFFERENT algorithm over the same
    * definition: DuckDB sorts the actual suffix strings (byte order =
    * code-point order on this ASCII corpus) and measures each adjacent
    * lcp by direct first-mismatch scan — if the distributed doubling,
    * the partition-offset indexing, or the level descent mis-ranked a
    * single suffix, sa_ck or an lcp would move and the hash compare
    * would catch it. */
  def qSuffixDedup(spark: SparkSession, dir: String): DataFrame = {
    // SERVE from the session suffix-index artifact (r18, VERDICT r17
    // item 1): the build runs once per (session, corpus) in
    // SuffixIndex.forCorpus; this query — and the apply/FM rows — read
    // the persisted ord/pairs instead of each rebuilding them
    val d = docs(spark, dir).select("doc_id", "text")
    val h = graft.operators.SuffixIndex.forCorpus(d, dir)
    suffixDedupStats(d, h.ord, h.pairs)
  }

  /** The per-doc aggregation stage of [[qSuffixDedup]] over any built
    * (ord, pairs) — shared by the artifact serve path and the
    * indexed==inline parity spec. */
  def suffixDedupStats(d: DataFrame, ord: DataFrame,
                       pairs: DataFrame): DataFrame = {
    val duo = pairs
      .select(col("da").as("doc_id"), col("lcp"),
        (col("da") =!= col("db")).as("x"))
      .unionByName(pairs.select(col("db").as("doc_id"), col("lcp"),
        (col("da") =!= col("db")).as("x")))
    val perdoc = duo.groupBy("doc_id").agg(
      max("lcp").as("max_lcp"),
      max(when(col("x"), col("lcp")).otherwise(0L)).as("max_lcp_xdoc"),
      sum(when(col("x") && col("lcp") >= 16, 1L).otherwise(0L))
        .as("n_dup16_xdoc"))
    val ck = ord.groupBy("doc_id").agg(
      count(lit(1)).as("n_pos"),
      sum(col("rn") * (col("pos") + 1L)).as("sa_ck"))
    d.select("doc_id")
      .join(ck, Seq("doc_id"), "left")
      .join(perdoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        coalesce(col("sa_ck"), lit(0L)).as("sa_ck"),
        coalesce(col("max_lcp"), lit(0L)).as("max_lcp"),
        coalesce(col("max_lcp_xdoc"), lit(0L)).as("max_lcp_xdoc"),
        coalesce(col("n_dup16_xdoc"), lit(0L)).as("n_dup16_xdoc"))
  }

  /** Substring-dedup APPLY (SURVEY §2 row 215, r17; VERDICT r16 item
    * 3): row 213 measures the duplicated-substring structure, this row
    * ACTS on it — cross-doc duplicated spans >= 50 chars are removed
    * from every doc except the smallest doc_id holding them (the
    * keep-best editorial rule), and the cleaned corpus is re-emitted
    * with per-doc removal statistics. Semantics + scale shape in
    * [[graft.operators.SuffixArray.dedupSpans]]; the oracle replays
    * the identical group/min-doc/span selection over DuckDB's own
    * suffix sort and rebuilds each cleaned text char-by-char — a
    * divergence anywhere in the doubling, the sessionized groups, the
    * span merge or the substring reassembly breaks the hash. */
  def qSuffixDedupApply(spark: SparkSession, dir: String): DataFrame = {
    // artifact-served (r18): group/mark/merge over the persisted
    // ord/pairs — the build never reruns for the apply step
    import graft.operators.{SuffixArray, SuffixIndex}
    val d0 = docs(spark, dir).select("doc_id", "text")
    val h = SuffixIndex.forCorpus(d0, dir)
    val d = d0.select(col("doc_id").cast("long").as("doc_id"),
      col("text"))
    SuffixArray.applyDedupFrom(
      SuffixArray.dedupSpansOn(d, h.ord, h.pairs, 50L))
  }

  /** Incremental substring dedup — delta-vs-index (SURVEY §2 row 221,
    * r18; VERDICT r17 item 4): a NEW batch of docs (deterministically
    * constructed from every 25th corpus doc: a novel head, a 160-char
    * span COPIED from the standing corpus, a novel middle, a 40-char
    * copy UNDER the 50 threshold, a novel tail; every third batch doc
    * fully novel) is cleaned against the STANDING suffix-index
    * artifact with NO rebuild — the minhashDelta asymmetric-join shape
    * applied to suffix order. Matching is rank-label composition
    * against the persisted base label maps + window-key table
    * ([[graft.operators.SuffixArray.deltaSpans]]): a delta position
    * matches iff its composed key equals a base key, i.e. iff its
    * 50-byte window occurs verbatim in base, and the union of matched
    * windows equals the union of maximal >=50 base-duplicated spans —
    * the same spans a full rebuild over base∪delta would remove from
    * the batch (parity spec-pinned). The oracle shares nothing with
    * the label machinery: it matches delta 50-grams against the
    * distinct base 50-gram set by direct string equality and rebuilds
    * the cleaned text char-by-char from uncovered positions. */
  def qSuffixDedupDelta(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{SuffixArray, SuffixIndex}
    val d0 = docs(spark, dir).select("doc_id", "text")
    val t = SuffixIndex.deltaFor(SuffixIndex.forCorpus(d0, dir), 50L)
    SuffixArray.applyDedupFrom(
      SuffixArray.deltaSpans(deltaBatch(d0), t))
  }

  /** The delta fixture: deterministic, SQL-replayable (substr/concat
    * arithmetic only — the oracle rebuilds the identical bytes). */
  def deltaBatch(d0: DataFrame): DataFrame =
    d0.select(col("doc_id").cast("long").as("sid"), col("text"))
      .filter(col("sid") % 25 === 4)
      .select((col("sid") + 1000000L).as("doc_id"),
        when(col("sid") % 75 === 29,
          concat(lit("no copies here "),
            ((col("sid") * 7919L) % 1000L).cast("string")))
          .otherwise(concat(
            lit("novel head "), col("sid").cast("string"), lit(" qq "),
            expr("substr(text, 31, 160)"),
            lit(" zz novel mid zz "),
            expr("substr(text, 11, 40)"),
            lit(" end"))).as("text"))

  val oracles: Map[String, String] = Map(
    "q_suffix_dedup_delta" ->
      """WITH src AS (SELECT CAST(doc_id AS BIGINT) AS sid, text
        |  FROM documents WHERE CAST(doc_id AS BIGINT) % 25 = 4),
        |delta AS (SELECT 1000000 + sid AS doc_id,
        |    CASE WHEN sid % 75 = 29
        |      THEN 'no copies here ' || CAST(sid * 7919 % 1000 AS VARCHAR)
        |      ELSE 'novel head ' || CAST(sid AS VARCHAR) || ' qq '
        |        || substr(text, 31, 160) || ' zz novel mid zz '
        |        || substr(text, 11, 40) || ' end' END AS text
        |  FROM src),
        |basegram AS (SELECT DISTINCT substr(text, CAST(i AS INT), 50) AS g
        |  FROM documents, LATERAL (SELECT unnest(generate_series(1,
        |    length(text) - 49)) AS i) u
        |  WHERE length(text) >= 50),
        |mk AS (SELECT d.doc_id, CAST(u.i - 1 AS BIGINT) AS p
        |  FROM delta d, LATERAL (SELECT unnest(generate_series(1,
        |    length(d.text) - 49)) AS i) u
        |  WHERE length(d.text) >= 50
        |    AND substr(d.text, CAST(u.i AS INT), 50) IN
        |      (SELECT g FROM basegram)),
        |cov AS (SELECT DISTINCT doc_id, CAST(u.j AS BIGINT) AS j
        |  FROM mk, LATERAL (SELECT unnest(generate_series(p, p + 49))
        |    AS j) u),
        |nrm AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_rm
        |  FROM mk GROUP BY doc_id),
        |rmc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS rm_chars
        |  FROM cov GROUP BY doc_id),
        |dpos AS (SELECT d.doc_id, CAST(g.p AS BIGINT) AS p,
        |    substr(d.text, CAST(g.p + 1 AS INT), 1) AS ch
        |  FROM delta d, LATERAL (SELECT unnest(generate_series(0,
        |    length(d.text) - 1)) AS p) g),
        |kept AS (SELECT dp.doc_id, dp.p, dp.ch FROM dpos dp
        |  LEFT JOIN cov v ON v.doc_id = dp.doc_id AND v.j = dp.p
        |  WHERE v.j IS NULL),
        |cln AS (SELECT doc_id, string_agg(ch, '' ORDER BY p) AS t
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(n.n_rm, 0) AS n_rm,
        |  COALESCE(r.rm_chars, 0) AS rm_chars,
        |  CAST(length(COALESCE(c.t, '')) AS BIGINT) AS clean_len,
        |  COALESCE(c.t, '') AS clean_text
        |FROM delta d
        |LEFT JOIN nrm n ON n.doc_id = d.doc_id
        |LEFT JOIN rmc r ON r.doc_id = d.doc_id
        |LEFT JOIN cln c ON c.doc_id = d.doc_id
        |""".stripMargin,
    "q_suffix_dedup" ->
      """WITH pos AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    CAST(g.p AS BIGINT) AS pos,
        |    CAST(length(text) AS BIGINT) AS len,
        |    substr(text, CAST(g.p AS BIGINT) + 1) AS suf
        |  FROM documents,
        |    LATERAL (SELECT unnest(generate_series(0,
        |      length(text) - 1)) AS p) g
        |),
        |ord AS (
        |  SELECT doc_id, pos, len, suf,
        |    CAST(row_number() OVER (ORDER BY suf, doc_id, pos)
        |      AS BIGINT) AS rn
        |  FROM pos
        |),
        |adj AS (
        |  SELECT a.doc_id AS da, a.pos AS pa, a.suf AS sa2,
        |         b.doc_id AS db, b.pos AS pb, b.suf AS sb2
        |  FROM ord a JOIN ord b ON b.rn = a.rn + 1
        |),
        |lcp AS (
        |  SELECT da, pa, db, pb,
        |    CAST(COALESCE(
        |      (SELECT min(g.k)
        |       FROM (SELECT unnest(generate_series(1,
        |              least(length(sa2), length(sb2)))) AS k) g
        |       WHERE substr(sa2, CAST(g.k AS INT), 1)
        |          <> substr(sb2, CAST(g.k AS INT), 1)) - 1,
        |      least(length(sa2), length(sb2))) AS BIGINT) AS l
        |  FROM adj
        |),
        |duo AS (
        |  SELECT da AS doc_id, l,
        |    CASE WHEN da <> db THEN 1 ELSE 0 END AS x FROM lcp
        |  UNION ALL
        |  SELECT db, l, CASE WHEN da <> db THEN 1 ELSE 0 END FROM lcp
        |),
        |perdoc AS (
        |  SELECT doc_id, max(l) AS max_lcp,
        |    max(CASE WHEN x = 1 THEN l ELSE 0 END) AS max_lcp_xdoc,
        |    CAST(sum(CASE WHEN x = 1 AND l >= 16 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_dup16_xdoc
        |  FROM duo GROUP BY doc_id
        |),
        |ck AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pos,
        |    CAST(sum(rn * (pos + 1)) AS BIGINT) AS sa_ck
        |  FROM ord GROUP BY doc_id
        |)
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
        |  COALESCE(ck.n_pos, 0) AS n_pos,
        |  COALESCE(ck.sa_ck, 0) AS sa_ck,
        |  COALESCE(p.max_lcp, 0) AS max_lcp,
        |  COALESCE(p.max_lcp_xdoc, 0) AS max_lcp_xdoc,
        |  COALESCE(p.n_dup16_xdoc, 0) AS n_dup16_xdoc
        |FROM documents d
        |LEFT JOIN ck ON ck.doc_id = CAST(d.doc_id AS BIGINT)
        |LEFT JOIN perdoc p ON p.doc_id = CAST(d.doc_id AS BIGINT)
        |""".stripMargin,

    // apply = the same suffix sort, then: sessionized >=50 groups over
    // the adjacent-lcp chain, min-doc canonical per group, span cover
    // per non-canonical member, and char-level reassembly of the kept
    // text (string_agg over uncovered positions) — an INDEPENDENT
    // reconstruction of the clean_text the Spark side builds by
    // interval-merge + substring arithmetic
    "q_suffix_dedup_apply" ->
      """WITH pos AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    CAST(g.p AS BIGINT) AS pos,
        |    CAST(length(text) AS BIGINT) AS len,
        |    substr(text, CAST(g.p AS BIGINT) + 1) AS suf
        |  FROM documents,
        |    LATERAL (SELECT unnest(generate_series(0,
        |      length(text) - 1)) AS p) g
        |),
        |ord AS (
        |  SELECT doc_id, pos, len, suf,
        |    CAST(row_number() OVER (ORDER BY suf, doc_id, pos)
        |      AS BIGINT) AS rn
        |  FROM pos
        |),
        |adj AS (
        |  SELECT a.rn AS rn, a.doc_id AS da, a.pos AS pa, a.suf AS sa2,
        |         b.doc_id AS db, b.pos AS pb, b.suf AS sb2
        |  FROM ord a JOIN ord b ON b.rn = a.rn + 1
        |),
        |lcp AS (
        |  SELECT rn,
        |    CAST(COALESCE(
        |      (SELECT min(g.k)
        |       FROM (SELECT unnest(generate_series(1,
        |              least(length(sa2), length(sb2)))) AS k) g
        |       WHERE substr(sa2, CAST(g.k AS INT), 1)
        |          <> substr(sb2, CAST(g.k AS INT), 1)) - 1,
        |      least(length(sa2), length(sb2))) AS BIGINT) AS l
        |  FROM adj
        |),
        |sfx AS (
        |  SELECT o.doc_id, o.pos, o.rn,
        |    SUM(CASE WHEN p.l IS NULL OR p.l < 50 THEN 1 ELSE 0 END)
        |      OVER (ORDER BY o.rn) AS gid
        |  FROM ord o LEFT JOIN lcp p ON p.rn = o.rn - 1
        |),
        |tch AS (
        |  SELECT rn, MAX(l) AS lm FROM (
        |    SELECT rn, l FROM lcp WHERE l >= 50
        |    UNION ALL
        |    SELECT rn + 1 AS rn, l FROM lcp WHERE l >= 50) z
        |  GROUP BY rn
        |),
        |mem AS (SELECT s.doc_id, s.pos, s.gid, t.lm
        |        FROM sfx s JOIN tch t ON t.rn = s.rn),
        |cd AS (SELECT gid, MIN(doc_id) AS cdoc FROM mem GROUP BY gid),
        |mk AS (SELECT m.doc_id, m.pos AS s, m.pos + m.lm AS e
        |       FROM mem m JOIN cd ON cd.gid = m.gid
        |       WHERE m.doc_id <> cd.cdoc),
        |cov AS (SELECT DISTINCT doc_id, CAST(u.j AS BIGINT) AS j
        |        FROM mk, LATERAL (SELECT unnest(generate_series(s,
        |          e - 1)) AS j) u),
        |nrm AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_rm
        |        FROM mk GROUP BY doc_id),
        |rmc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS rm_chars
        |        FROM cov GROUP BY doc_id),
        |kept AS (
        |  SELECT p.doc_id, p.pos, substr(p.suf, 1, 1) AS ch
        |  FROM pos p LEFT JOIN cov v
        |    ON v.doc_id = p.doc_id AND v.j = p.pos
        |  WHERE v.j IS NULL
        |),
        |cln AS (SELECT doc_id, string_agg(ch, '' ORDER BY pos) AS t
        |        FROM kept GROUP BY doc_id)
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
        |  COALESCE(n.n_rm, 0) AS n_rm,
        |  COALESCE(r.rm_chars, 0) AS rm_chars,
        |  CAST(length(COALESCE(c.t, '')) AS BIGINT) AS clean_len,
        |  COALESCE(c.t, '') AS clean_text
        |FROM documents d
        |LEFT JOIN nrm n ON n.doc_id = CAST(d.doc_id AS BIGINT)
        |LEFT JOIN rmc r ON r.doc_id = CAST(d.doc_id AS BIGINT)
        |LEFT JOIN cln c ON c.doc_id = CAST(d.doc_id AS BIGINT)
        |""".stripMargin,

    "q_unigram_train" ->
      s"""WITH RECURSIVE
         |$uniChainSql
         |SELECT s AS piece, CAST(len(s) AS BIGINT) AS len,
         |  CAST(c AS BIGINT) AS cnt,
         |  CAST(round(ln(c * 1.0 /
         |    (SELECT SUM(c) FROM vr$UniRounds)) * 10000, 0) AS BIGINT)
         |    AS score_x1e4,
         |  CAST(ROW_NUMBER() OVER (ORDER BY c DESC, s ASC) AS BIGINT)
         |    AS rank
         |FROM vr$UniRounds WHERE c > 0""".stripMargin,

    // encode = the chain + per-word piece counts from the backtrack
    // join + per-doc rollup over the exploded words
    "q_unigram_encode" ->
      s"""WITH RECURSIVE
         |$uniChainSql,
         |wpc AS MATERIALIZED (
         |  SELECT b.w, CAST(COUNT(*) AS BIGINT) AS np
         |  FROM bk$UniRounds b
         |  JOIN chosen$UniRounds ch ON ch.w = b.w AND ch.i = b.i
         |  GROUP BY 1),
         |dw AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, w FROM (
         |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
         |    FROM documents) z
         |  WHERE len(w) > 0)
         |SELECT dw.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(len(dw.w)) AS BIGINT) AS n_chars,
         |  CAST(SUM(wpc.np) AS BIGINT) AS n_tokens,
         |  CAST(SUM(len(dw.w)) * 10000 // SUM(wpc.np) AS BIGINT)
         |    AS chars_per_token_x1e4
         |FROM dw JOIN wpc ON wpc.w = dw.w
         |GROUP BY dw.doc_id""".stripMargin,

    "q_unigram_fertility" ->
      s"""WITH RECURSIVE
         |$uniChainSql,
         |uni_t AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens
         |          FROM vr$UniRounds),
         |uni_c AS (SELECT CAST(SUM(f * len(w)) AS BIGINT) AS n_chars
         |          FROM words),
         |d0 AS (SELECT lower(text) AS t FROM documents),
         |${BpeSql.rounds(BpeRounds, 0)},
         |bpe_t AS (SELECT CAST(SUM(len(t)) AS BIGINT) AS n_tokens
         |          FROM d$BpeRounds),
         |bpe_c AS (SELECT CAST(SUM(len(t)) AS BIGINT) AS n_chars
         |          FROM d0)
         |SELECT 'bpe5' AS tok, bpe_t.n_tokens, bpe_c.n_chars,
         |  CAST(bpe_c.n_chars * 10000 // bpe_t.n_tokens AS BIGINT)
         |    AS chars_per_token_x1e4
         |FROM bpe_t, bpe_c
         |UNION ALL
         |SELECT 'chars', bpe_c.n_chars, bpe_c.n_chars,
         |  CAST(10000 AS BIGINT) FROM bpe_c
         |UNION ALL
         |SELECT 'unigram', uni_t.n_tokens, uni_c.n_chars,
         |  CAST(uni_c.n_chars * 10000 // uni_t.n_tokens AS BIGINT)
         |FROM uni_t, uni_c""".stripMargin,

    // per-term occurrence counts by the replace-arithmetic closed form
    // (terms are border-free, so non-overlapping == every-occurrence),
    // first_pos = min strpos over present terms — an INDEPENDENT
    // derivation of what the automaton accumulates in one pass
    "q_blocklist_filter" -> {
      val vals = Blocklist.map(t => s"('${t}')").mkString(", ")
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |             lower(text) AS t,
         |             CAST(len(text) AS BIGINT) AS n_chars
         |           FROM documents),
         |tm AS (SELECT * FROM (VALUES $vals) v(term)),
         |pc AS (SELECT doc_id, n_chars, term,
         |         (len(t) - len(replace(t, term, ''))) // len(term)
         |           AS cnt,
         |         strpos(t, term) AS pos
         |       FROM d, tm),
         |g AS (SELECT doc_id, n_chars,
         |        CAST(SUM(cnt) AS BIGINT) AS n_hits,
         |        CAST(SUM(CASE WHEN cnt > 0 THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n_terms,
         |        CAST(COALESCE(MIN(CASE WHEN pos > 0 THEN pos END), 0)
         |          AS BIGINT) AS first_pos
         |      FROM pc GROUP BY 1, 2)
         |SELECT doc_id, n_hits, n_terms, first_pos, n_chars,
         |  ROUND(n_hits * CAST(1000 AS DOUBLE)
         |    / CAST(n_chars + 1 AS DOUBLE), 4) AS hits_per_kchar,
         |  n_terms >= 3 AS flagged
         |FROM g""".stripMargin
    },
    // exact integer margins, min-count prune before the joins, and the
    // PMI argument built with the SAME pinned multiply order
    "q_collocations_pmi" ->
      s"""WITH d AS (SELECT ${TextSql.norm("text")} AS t FROM documents),
        |tk AS (SELECT list_filter(string_split(t, ' '),
        |         x -> len(x) > 0) AS ts FROM d),
        |uni AS (SELECT w, COUNT(*) AS c FROM tk,
        |          LATERAL (SELECT unnest(ts) AS w) u GROUP BY 1),
        |bi AS (SELECT ts[CAST(i AS INT)] AS w1,
        |         ts[CAST(i + 1 AS INT)] AS w2, COUNT(*) AS c12
        |       FROM tk, LATERAL (SELECT
        |         unnest(generate_series(1, len(ts) - 1)) AS i) u
        |       GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |tot AS (SELECT SUM(len(ts)) AS n_uni,
        |          SUM(greatest(len(ts) - 1, 0)) AS n_bi FROM tk)
        |SELECT bi.w1, bi.w2, bi.c12, a.c AS c1, b.c AS c2,
        |  ROUND(ln(((CAST(bi.c12 AS DOUBLE) * tot.n_uni) * tot.n_uni)
        |    / ((CAST(tot.n_bi AS DOUBLE) * a.c) * b.c)), 4) + 0.0 AS pmi
        |FROM bi JOIN uni a ON a.w = bi.w1
        |JOIN uni b ON b.w = bi.w2, tot""".stripMargin,
    "q_bm25" ->
      s"""WITH $bm25ScoreCtes
         |SELECT doc_id, score, n_terms
         |FROM bscore
         |ORDER BY score DESC, doc_id LIMIT $Bm25TopK""".stripMargin,

    "q_normalize_unicode" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  text || ' cafe'
        |    || repeat('e' || chr(769), CAST(1 + doc_id % 3 AS INT)) AS t
        |  FROM documents),
        |n AS (SELECT doc_id, t, nfc_normalize(t) AS nfc FROM d)
        |SELECT doc_id,
        |  CAST(len(t) AS BIGINT) AS len_raw,
        |  CAST(len(nfc) AS BIGINT) AS len_nfc,
        |  t <> nfc AS changed,
        |  CAST(list_sum(list_transform(
        |    list_filter(string_split(nfc, ''), c -> len(c) > 0),
        |    c -> CAST(unicode(c) AS BIGINT))) AS BIGINT) AS cp_sum
        |FROM n""".stripMargin,

    "q_bpe_train" ->
      s"""WITH d0 AS (SELECT lower(text) AS t FROM documents),
         |${BpeSql.rounds(BpeRounds, 0)},
         |pf AS (${BpeSql.pairs(s"d$BpeRounds")})
         |SELECT CAST(unicode(substr(pr, 1, 1)) AS BIGINT) AS a,
         |  CAST(unicode(substr(pr, 2, 1)) AS BIGINT) AS b,
         |  CAST(c AS BIGINT) AS cnt
         |FROM pf ORDER BY c DESC, pr ASC LIMIT 10""".stripMargin,

    // n_tokens(k) uses the identical sum-of-pair-counts + n_docs
    // identity the engine computes from its count table
    "q_bpe_train_deep" -> {
      val steps = (0 to BpeDeepRounds).map { k =>
        s"""SELECT CAST($k AS BIGINT) AS k, ${BpeSql.merge(k)},
           |  CAST((SELECT SUM(c) FROM p${k + 1}) + (SELECT n FROM nd)
           |    AS BIGINT) AS n_tokens""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH d0 AS MATERIALIZED (SELECT lower(text) AS t FROM documents),
         |nd AS (SELECT COUNT(*) AS n FROM d0),
         |${BpeSql.rounds(BpeDeepRounds, 0x250)},
         |p${BpeDeepRounds + 1} AS MATERIALIZED (
         |  ${BpeSql.pairs(s"d$BpeDeepRounds")}),
         |u AS MATERIALIZED ($steps)
         |SELECT u.k, u.a, u.b, u.n_tokens,
         |  (SELECT n_tokens FROM u WHERE k = 0) AS n_chars,
         |  CAST((SELECT n_tokens FROM u WHERE k = 0) * 10000 // u.n_tokens
         |    AS BIGINT) AS chars_per_token_x1e4
         |FROM u""".stripMargin
    },

    "q_bpe_fertility" -> bpeCurveSql(Nil),
    "q_bpe_fertility_lang" -> bpeCurveSql(Seq("lang")),

    "q_lang_keywords" -> {
      val profRows = langidProfiles.flatMap { case (l, ws) =>
        ws.zipWithIndex.map { case (w, i) => s"('$l', $i, '$w')" }
      }.mkString(", ")
      val nbRows = langidNeighbor
        .map { case (l, n) => s"('$l', '$n')" }.mkString(", ")
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, text
         |           FROM documents),
         |prof(plang, idx, word) AS (SELECT * FROM (VALUES $profRows)),
         |nb(l, n) AS (SELECT * FROM (VALUES $nbRows)),
         |wd AS (SELECT lang, w AS word
         |       FROM d, LATERAL (SELECT unnest(list_filter(
         |              string_split_regex(lower(text), '[^a-z]+'),
         |              x -> len(x) > 0)) AS w) u),
         |own AS (SELECT d.lang, p.word
         |        FROM d, (SELECT unnest(generate_series(0, 4)) AS j) jj,
         |             prof p
         |        WHERE d.doc_id % 13 <> 0
         |          AND jj.j < 2 + d.doc_id % 5 AND p.plang = d.lang
         |          AND p.idx = (d.doc_id + jj.j) % 5),
         |conf AS (SELECT d.lang, p.word
         |         FROM d JOIN nb ON d.lang = nb.l,
         |              (SELECT unnest([0, 2]) AS o) oo, prof p
         |         WHERE d.doc_id % 7 = 0 AND p.plang = nb.n
         |           AND p.idx = (d.doc_id + oo.o) % 5),
         |allw AS (SELECT lang, word FROM wd
         |         UNION ALL SELECT lang, word FROM own
         |         UNION ALL SELECT lang, word FROM conf),
         |lw AS (SELECT lang, word, COUNT(*) AS tf FROM allw
         |       GROUP BY 1, 2),
         |dfl AS (SELECT word, COUNT(*) AS df_langs FROM lw GROUP BY 1),
         |tot AS (SELECT lang, SUM(tf) AS lang_tokens FROM lw GROUP BY 1),
         |sc AS (SELECT lw.lang, lw.word, lw.tf, dfl.df_langs,
         |         lw.tf * 10000 // tot.lang_tokens AS score
         |       FROM lw JOIN dfl ON lw.word = dfl.word
         |            JOIN tot ON lw.lang = tot.lang
         |       WHERE dfl.df_langs <= 3),
         |rk AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY lang
         |         ORDER BY score DESC, word ASC) AS INT) AS rk FROM sc)
         |SELECT lang, word, CAST(tf AS BIGINT) AS tf,
         |  CAST(df_langs AS BIGINT) AS df_langs,
         |  CAST(score AS BIGINT) AS score, rk
         |FROM rk WHERE rk <= 5""".stripMargin
    },

    // word-level KN bigram LM: the oracle retrains the identical
    // tables (bigram/left-total/fan-out/continuation + the B scalar)
    // and re-scores every bigram through the same interpolated-KN
    // rational; round(mean bits, 2) absorbs SUM-order double noise
    // (the row-59 convention)
    "q_kn_bigram_lm" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    list_filter(string_split(lower(text), ' '),
        |      w -> len(w) > 0) AS ws
        |  FROM documents),
        |bi AS (SELECT doc_id, ws[CAST(i AS INT)] AS w1,
        |    ws[CAST(i AS INT) + 1] AS w2
        |  FROM d, LATERAL (SELECT unnest(generate_series(1,
        |    greatest(len(ws) - 1, 0))) AS i) u),
        |ref AS (SELECT w1, w2, COUNT(*) AS cbi FROM bi
        |        WHERE doc_id % 5 = 0 GROUP BY 1, 2),
        |w1t AS (SELECT w1, SUM(cbi) AS cw1, COUNT(*) AS nf
        |        FROM ref GROUP BY 1),
        |ct AS (SELECT w2, COUNT(*) AS cont FROM ref GROUP BY 1),
        |bt AS (SELECT COUNT(*) AS b FROM ref),
        |s AS (SELECT bi.doc_id, COALESCE(r.cbi, 0) AS c,
        |    COALESCE(w.cw1, 0) AS c1, COALESCE(w.nf, 0) AS nf,
        |    (COALESCE(ct.cont, 0) + 1.0) / (bt.b + 1000.0) AS pc
        |  FROM bi LEFT JOIN ref r ON r.w1 = bi.w1 AND r.w2 = bi.w2
        |  LEFT JOIN w1t w ON w.w1 = bi.w1
        |  LEFT JOIN ct ON ct.w2 = bi.w2
        |  CROSS JOIN bt),
        |pp AS (SELECT doc_id, c, CASE WHEN c1 > 0
        |    THEN (greatest(c - 0.75, 0.0) + 0.75 * nf * pc) / c1
        |    ELSE pc END AS p FROM s),
        |g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bi,
        |    CAST(SUM(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_unseen,
        |    ROUND(SUM(CASE WHEN c = 0 THEN 1.0 ELSE 0.0 END)
        |      / CAST(COUNT(*) AS DOUBLE), 4) AS unseen_frac,
        |    ROUND(SUM(-log2(p)) / CAST(COUNT(*) AS DOUBLE), 2) AS bits
        |  FROM pp GROUP BY doc_id)
        |SELECT doc_id, n_bi, n_unseen, unseen_frac, bits,
        |  ROUND(POW(2.0, bits), 2) AS ppl
        |FROM g""".stripMargin,
    "q_kn_trigram_lm" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    list_filter(string_split(lower(text), ' '),
        |      w -> len(w) > 0) AS ws
        |  FROM documents),
        |tri AS (SELECT doc_id, ws[CAST(i AS INT)] AS w1,
        |    ws[CAST(i AS INT) + 1] AS w2, ws[CAST(i AS INT) + 2] AS w3
        |  FROM d, LATERAL (SELECT unnest(generate_series(1,
        |    greatest(len(ws) - 2, 0))) AS i) u),
        |ctri AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM tri
        |         WHERE doc_id % 5 = 0 GROUP BY 1, 2, 3),
        |ctx12 AS (SELECT w1, w2, SUM(c3) AS c12, COUNT(*) AS nf12
        |          FROM ctri GROUP BY 1, 2),
        |mid AS (SELECT w2, w3, COUNT(*) AS nmid FROM ctri GROUP BY 1, 2),
        |midctx AS (SELECT w2, SUM(nmid) AS ntot2, COUNT(*) AS nf2
        |           FROM mid GROUP BY 1),
        |ct3 AS (SELECT w3, COUNT(*) AS cont FROM mid GROUP BY 1),
        |bt AS (SELECT COUNT(*) AS b FROM mid),
        |s AS (SELECT tri.doc_id, COALESCE(r.c3, 0) AS c,
        |    COALESCE(x.c12, 0) AS c12, COALESCE(x.nf12, 0) AS nf12,
        |    COALESCE(m.nmid, 0) AS nmid, COALESCE(mc.ntot2, 0) AS ntot2,
        |    COALESCE(mc.nf2, 0) AS nf2,
        |    (COALESCE(ct3.cont, 0) + 1.0) / (bt.b + 1000.0) AS pc
        |  FROM tri
        |  LEFT JOIN ctri r ON r.w1 = tri.w1 AND r.w2 = tri.w2
        |    AND r.w3 = tri.w3
        |  LEFT JOIN ctx12 x ON x.w1 = tri.w1 AND x.w2 = tri.w2
        |  LEFT JOIN mid m ON m.w2 = tri.w2 AND m.w3 = tri.w3
        |  LEFT JOIN midctx mc ON mc.w2 = tri.w2
        |  LEFT JOIN ct3 ON ct3.w3 = tri.w3
        |  CROSS JOIN bt),
        |p2t AS (SELECT doc_id, c, c12, nf12, CASE WHEN ntot2 > 0
        |    THEN (greatest(nmid - 0.75, 0.0) + 0.75 * nf2 * pc) / ntot2
        |    ELSE pc END AS p2 FROM s),
        |pp AS (SELECT doc_id, c, CASE WHEN c12 > 0
        |    THEN (greatest(c - 0.75, 0.0) + 0.75 * nf12 * p2) / c12
        |    ELSE p2 END AS p FROM p2t),
        |g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri,
        |    CAST(SUM(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_unseen,
        |    ROUND(SUM(CASE WHEN c = 0 THEN 1.0 ELSE 0.0 END)
        |      / CAST(COUNT(*) AS DOUBLE), 4) AS unseen_frac,
        |    ROUND(SUM(-log2(p)) / CAST(COUNT(*) AS DOUBLE), 2) AS bits
        |  FROM pp GROUP BY doc_id)
        |SELECT doc_id, n_tri, n_unseen, unseen_frac, bits,
        |  ROUND(POW(2.0, bits), 2) AS ppl
        |FROM g""".stripMargin,

    "q_lm_perplexity" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, lower(text) AS t
        |           FROM documents),
        |tr AS (SELECT doc_id, substr(t, CAST(i AS INT), 3) AS tri
        |       FROM d, LATERAL (SELECT unnest(generate_series(1,
        |              greatest(len(t) - 2, 1))) AS i) u
        |       WHERE len(substr(t, CAST(i AS INT), 3)) = 3),
        |ref AS (SELECT tri, COUNT(*) AS c3 FROM tr
        |        WHERE doc_id % 5 = 0 GROUP BY 1),
        |bi AS (SELECT substr(tri, 1, 2) AS bi, SUM(c3) AS c2
        |       FROM ref GROUP BY 1),
        |s AS (SELECT t.doc_id, COALESCE(r.c3, 0) AS c3,
        |        COALESCE(b.c2, 0) AS c2
        |      FROM tr t LEFT JOIN ref r ON t.tri = r.tri
        |      LEFT JOIN bi b ON substr(t.tri, 1, 2) = b.bi),
        |g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri,
        |        CAST(SUM(CASE WHEN c3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_oov,
        |        ROUND(SUM(CASE WHEN c3 = 0 THEN 1.0 ELSE 0.0 END)
        |          / CAST(COUNT(*) AS DOUBLE), 4) AS oov_frac,
        |        ROUND(SUM(-log2((c3 + 1.0) / (c2 + 128.0)))
        |          / CAST(COUNT(*) AS DOUBLE), 2) AS bits
        |      FROM s GROUP BY doc_id)
        |SELECT doc_id, n_tri, n_oov, oov_frac, bits,
        |  ROUND(POW(2.0, bits), 2) AS ppl
        |FROM g""".stripMargin,

    "q_winnow_fingerprint" ->
      s"""WITH $winnowCtes,
         |np AS (SELECT doc_id, COUNT(*) AS n_pos FROM ph GROUP BY 1)
         |SELECT p.doc_id AS doc_id, CAST(n.n_pos AS BIGINT) AS n_pos,
         |  CAST(COUNT(*) AS BIGINT) AS n_fp,
         |  CAST(SUM(p.fp) % $WinMod AS BIGINT) AS fp_sum,
         |  CAST(COUNT(*) * 10000 // n.n_pos AS BIGINT) AS density_bp
         |FROM picks p JOIN np n ON p.doc_id = n.doc_id
         |GROUP BY p.doc_id, n.n_pos""".stripMargin,

    "q_winnow_overlap" ->
      s"""WITH $winnowCtes,
         |docfp AS (SELECT DISTINCT doc_id, fp FROM picks),
         |dfc AS (SELECT fp FROM docfp GROUP BY fp
         |        HAVING COUNT(*) >= 2 AND COUNT(*) <= $WinMaxDf),
         |nf AS (SELECT doc_id, COUNT(*) AS n_fp FROM docfp GROUP BY 1),
         |pr AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
         |         COUNT(*) AS n_shared
         |       FROM docfp a JOIN dfc USING (fp) JOIN docfp b USING (fp)
         |       WHERE a.doc_id < b.doc_id
         |       GROUP BY 1, 2 HAVING COUNT(*) >= 2)
         |SELECT ida, idb, CAST(pr.n_shared AS BIGINT) AS n_shared,
         |  CAST(pr.n_shared * 10000 // LEAST(na.n_fp, nb.n_fp) AS BIGINT)
         |    AS ovl_bp
         |FROM pr JOIN nf na ON pr.ida = na.doc_id
         |        JOIN nf nb ON pr.idb = nb.doc_id""".stripMargin,

    "q_ngram_novelty" ->
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, lower(text) AS t
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id, s
        |       FROM (${TextSql.shingles("d", 8, 131)})),
        |df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
        |per AS (SELECT doc_id, COUNT(*) AS n_distinct,
        |          SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS n_unique
        |        FROM sh JOIN df USING (s) GROUP BY 1),
        |pr AS (SELECT doc_id, n_distinct, n_unique,
        |         n_unique * 10000 // n_distinct AS novelty_bp FROM per),
        |m AS (SELECT SUM(novelty_bp) // COUNT(*) AS mean_novelty_bp
        |      FROM pr)
        |SELECT pr.doc_id, CAST(pr.n_distinct AS BIGINT) AS n_distinct,
        |  CAST(pr.n_unique AS BIGINT) AS n_unique,
        |  CAST(pr.novelty_bp AS BIGINT) AS novelty_bp,
        |  CAST(m.mean_novelty_bp AS BIGINT) AS mean_novelty_bp
        |FROM pr, m""".stripMargin,

    "q_repetition" ->
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, lower(text) AS t
        |           FROM documents),
        |sh AS (SELECT doc_id, s FROM (${TextSql.shingles("d", 8, 131)})),
        |g AS (SELECT doc_id, s, COUNT(*) AS c FROM sh GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  CAST(MAX(c) AS BIGINT) AS max_rep,
        |  ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 4)
        |    AS dup_frac
        |FROM g GROUP BY doc_id""".stripMargin,

    "q_pii_redact" ->
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |  lower(text) || ' contact user' || CAST(doc_id AS VARCHAR)
         |    || '@example.com or admin' || CAST(doc_id AS VARCHAR)
         |    || '@mail.test call +1 555-0199 ip 10.'
         |    || CAST(doc_id % 256 AS VARCHAR) || '.0.1' AS t
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$EmailPat')) AS BIGINT)
         |    AS n_emails,
         |  CAST(len(regexp_extract_all(t, '$PhonePat')) AS BIGINT)
         |    AS n_phones,
         |  CAST(len(regexp_extract_all(t, '$IpPat')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_replace(regexp_replace(regexp_replace(t,
         |    '$EmailPat', '<EMAIL>', 'g'),
         |    '$PhonePat', '<PHONE>', 'g'),
         |    '$IpPat', '<IP>', 'g')) AS BIGINT) AS red_len
         |FROM d""".stripMargin,
    "q_code_detect" ->
      s"""WITH d AS ($docsSql),
         |p AS (SELECT doc_id,
         |        CASE WHEN doc_id % 6 = 0 THEN 1 + doc_id % 4
         |             ELSE 0 END AS r,
         |        CASE WHEN doc_id % 6 = 0
         |          THEN text || repeat(chr(10) || 'def f(x):'
         |            || chr(10) || '    return x * '
         |            || CAST(doc_id % 7 AS VARCHAR) || ';',
         |            CAST(1 + doc_id % 4 AS INT))
         |          ELSE text END AS t
         |      FROM d)
         |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_chars,
         |  CAST(r * 5 AS BIGINT) AS n_sym,
         |  CAST(r * 2 AS BIGINT) AS n_kw,
         |  CAST((r * 5 * 10 + r * 2 * 30) * 1000 // len(t) AS BIGINT)
         |    AS code_score,
         |  (r * 5 * 10 + r * 2 * 30) * 1000 // len(t) >= 100 AS is_code
         |FROM p""".stripMargin,

    "q_tokenizer_coverage" ->
      s"""WITH d AS ($docsSql),
         |p AS (SELECT doc_id, doc_id % 34 = 17 AS is_planted,
         |        CASE WHEN doc_id % 34 = 17
         |          THEN text || ' ' || repeat(
         |            chr(955) || chr(20013) || chr(8226),
         |            CAST(1 + doc_id % 3 AS INT))
         |          ELSE text END AS t
         |      FROM d),
         |tc AS (SELECT DISTINCT u.c
         |       FROM p, LATERAL (SELECT unnest(string_split(t, ''))
         |         AS c) u
         |       WHERE doc_id % 2 = 0 AND len(u.c) > 0),
         |vs AS (SELECT string_agg(c, '') AS vocab FROM tc)
         |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_chars,
         |  CAST(len(translate(t, (SELECT vocab FROM vs), ''))
         |    AS BIGINT) AS n_oov,
         |  is_planted,
         |  CAST(len(translate(t, (SELECT vocab FROM vs), '')) * 1000
         |    // len(t) AS BIGINT) AS oov_pm,
         |  len(translate(t, (SELECT vocab FROM vs), '')) = 0 AS covered
         |FROM p""".stripMargin,

    "q_boilerplate_lines" ->
      s"""WITH d AS ($docsSql),
         |p AS (SELECT doc_id, source,
         |  'home about contact login ' || source || chr(10) || text ||
         |  CASE WHEN doc_id % 3 = 0
         |    THEN chr(10) || 'subscribe to our newsletter'
         |    ELSE '' END ||
         |  CASE WHEN doc_id % 2 = 0
         |    THEN chr(10) || 'copyright example com all rights reserved'
         |    ELSE '' END AS page FROM d),
         |ls AS (SELECT doc_id, source,
         |         string_split(page, chr(10)) AS arr FROM p),
         |l AS (SELECT doc_id, source, i - 1 AS pos,
         |        arr[CAST(i AS INT)] AS line
         |      FROM ls, LATERAL (SELECT unnest(generate_series(1,
         |        len(arr))) AS i) u),
         |sn AS (SELECT source, COUNT(DISTINCT doc_id) AS n
         |       FROM l GROUP BY 1),
         |boil AS (SELECT f.source, f.line
         |         FROM (SELECT source, line, COUNT(*) AS df FROM l
         |               GROUP BY 1, 2) f
         |         JOIN sn ON f.source = sn.source
         |         WHERE f.df >= 3 AND f.df * 100 >= sn.n * 35),
         |m AS (SELECT l.doc_id, l.pos, l.line,
         |        b.line IS NOT NULL AS boil
         |      FROM l LEFT JOIN boil b
         |        ON l.source = b.source AND l.line = b.line)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
         |  CAST(SUM(CASE WHEN boil THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_removed,
         |  CAST(SUM(CASE WHEN boil THEN len(line) ELSE 0 END) AS BIGINT)
         |    AS chars_removed,
         |  md5(COALESCE(string_agg(CASE WHEN NOT boil THEN line END,
         |    chr(10) ORDER BY pos), '')) AS cleaned_hash
         |FROM m GROUP BY doc_id""".stripMargin,

    "q_license_detect" -> {
      // analytic replay of the plant: which phrase lands on which doc
      // (idx = (doc_id/11)%6), class by the same precedence
      s"""WITH d AS ($docsSql),
         |b AS (SELECT doc_id, len(text) AS n,
         |        CASE WHEN doc_id % 11 = 0
         |          THEN (doc_id // 11) % 6 ELSE -1 END AS idx
         |      FROM d)
         |SELECT doc_id,
         |  CAST(CASE WHEN idx IN (0, 1, 2) THEN 1 ELSE 0 END AS BIGINT)
         |    AS n_permissive,
         |  CAST(CASE WHEN idx IN (3, 4) THEN 1 ELSE 0 END AS BIGINT)
         |    AS n_copyleft,
         |  CAST(CASE WHEN idx = 5 THEN 1 ELSE 0 END AS BIGINT)
         |    AS n_proprietary,
         |  CASE WHEN idx IN (3, 4) THEN 'copyleft'
         |       WHEN idx = 5 THEN 'proprietary'
         |       WHEN idx >= 0 THEN 'permissive'
         |       ELSE 'none' END AS license_class,
         |  CAST(CASE WHEN idx >= 0 THEN n + 2 ELSE 0 END AS BIGINT)
         |    AS first_pos
         |FROM b""".stripMargin
    },

    "q_mojibake" ->
      s"""WITH d AS ($docsSql),
         |x AS (SELECT doc_id, doc_id % 9 = 0 AS sel,
         |        CASE WHEN doc_id % 9 = 0
         |          THEN translate(text, 'ae', chr(225) || chr(233))
         |          ELSE text END AS intended
         |      FROM d),
         |c AS (SELECT doc_id, sel, intended,
         |        CASE WHEN sel THEN replace(replace(intended,
         |          chr(225), chr(195) || chr(161)),
         |          chr(233), chr(195) || chr(169))
         |          ELSE intended END AS corr
         |      FROM x),
         |r AS (SELECT doc_id, intended, corr,
         |        replace(replace(corr, chr(195) || chr(161), chr(225)),
         |          chr(195) || chr(169), chr(233)) AS rep
         |      FROM c)
         |SELECT doc_id,
         |  CAST(len(corr) - len(rep) AS BIGINT) AS n_moji,
         |  len(corr) > len(rep) AS detected,
         |  rep = intended AS repaired_ok,
         |  CAST(len(corr) AS BIGINT) AS len_corrupted,
         |  CAST(len(rep) AS BIGINT) AS len_repaired
         |FROM r""".stripMargin,

    "q_dedup_exact" ->
      s"""WITH d AS ($docsSql),
         |h AS (SELECT doc_id, md5(${TextSql.norm("text")}) AS h FROM d)
         |SELECT doc_id, h,
         |  MIN(doc_id) OVER (PARTITION BY h) AS canonical_id,
         |  COUNT(*) OVER (PARTITION BY h) AS n_copies,
         |  doc_id <> MIN(doc_id) OVER (PARTITION BY h) AS is_dup
         |FROM h""".stripMargin,

    "q_lang_id" ->
      s"""WITH d AS ($docsSql),
         |$langIdScoreCtes
         |SELECT doc_id,
         |  ${langidProfiles.map(l => s"score_${l._1}").mkString(", ")},
         |  pred_lang, lang, pred_lang = lang AS correct
         |FROM p""".stripMargin,

    "q_gopher_rules" -> {
      val wc = wcSql.replace("\n", " ").replaceAll(" +", " ")
      s"""WITH d AS ($docsSql),
         |m AS (SELECT doc_id,
         |  CAST($wc AS BIGINT) AS w,
         |  CAST(len(regexp_replace(text, '\\s', '', 'g')) AS BIGINT)
         |    AS nws,
         |  CAST(len(regexp_extract_all(text, '#')) AS BIGINT) AS nh,
         |  CAST(len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT)
         |    AS ne,
         |  CAST(${stopSql(TextSql.norm("text"), langStopwords.head._2)} AS BIGINT)
         |    AS nstop,
         |  CAST(len(regexp_extract_all(text, '\\b[A-Za-z]+\\b'))
         |    AS BIGINT) AS naw
         |FROM d),
         |f AS (SELECT doc_id,
         |  w >= 10 AS ok_word_count_min,
         |  w <= 100000 AS ok_word_count_max,
         |  (CASE WHEN w = 0 THEN 0.0
         |        ELSE CAST(nws AS DOUBLE) / CAST(w AS DOUBLE) END)
         |    >= 2.0
         |  AND (CASE WHEN w = 0 THEN 0.0
         |        ELSE CAST(nws AS DOUBLE) / CAST(w AS DOUBLE) END)
         |    <= 12.0 AS ok_mean_word_len,
         |  CAST(nh + ne AS DOUBLE) <= CAST(w AS DOUBLE) * 0.1
         |    AS ok_symbol_ratio,
         |  nstop >= 1 AS ok_stopword_min,
         |  CAST(naw AS DOUBLE) >= CAST(w AS DOUBLE) * 0.7
         |    AS ok_alpha_word_ratio
         |FROM m)
         |SELECT doc_id, ok_word_count_min, ok_word_count_max,
         |  ok_mean_word_len, ok_symbol_ratio, ok_stopword_min,
         |  ok_alpha_word_ratio,
         |  ok_word_count_min AND ok_word_count_max AND ok_mean_word_len
         |    AND ok_symbol_ratio AND ok_stopword_min
         |    AND ok_alpha_word_ratio AS keep,
         |  CASE WHEN NOT ok_word_count_min THEN 'word_count_min'
         |       WHEN NOT ok_word_count_max THEN 'word_count_max'
         |       WHEN NOT ok_mean_word_len THEN 'mean_word_len'
         |       WHEN NOT ok_symbol_ratio THEN 'symbol_ratio'
         |       WHEN NOT ok_stopword_min THEN 'stopword_min'
         |       WHEN NOT ok_alpha_word_ratio THEN 'alpha_word_ratio'
         |       ELSE 'none' END AS first_fail
         |FROM f""".stripMargin
    },

    "q_langid_eval" ->
      s"""WITH d AS ($docsSql),
         |$langIdScoreCtes,
         |conf AS (SELECT lang, pred_lang, COUNT(*) AS n
         |         FROM p GROUP BY 1, 2),
         |act AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_actual
         |        FROM conf GROUP BY 1),
         |prd AS (SELECT pred_lang, CAST(SUM(n) AS BIGINT) AS n_pred
         |        FROM conf GROUP BY 1)
         |SELECT c.lang, c.pred_lang, CAST(c.n AS BIGINT) AS n,
         |  a.n_actual, r.n_pred,
         |  ROUND(CAST(c.n AS DOUBLE) / CAST(a.n_actual AS DOUBLE), 4)
         |    AS frac_of_actual
         |FROM conf c
         |JOIN act a ON a.lang = c.lang
         |JOIN prd r ON r.pred_lang = c.pred_lang""".stripMargin,

    "q_text_quality" ->
      s"""WITH d AS ($docsSql)
         |SELECT doc_id,
         |  CAST(len(text) AS BIGINT) AS n_chars,
         |  CAST($wcSql AS BIGINT) AS n_words,
         |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct,
         |  CAST(len(regexp_extract_all(text, '[A-Z]')) AS BIGINT) AS n_upper,
         |  CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
         |  CAST(${stopSql(TextSql.norm("text"), langStopwords.head._2)} AS BIGINT) AS n_stop,
         |  ${perWordSql("len(regexp_replace(text, '\\s', '', 'g'))")} AS avg_word_len,
         |  ${perWordSql(stopSql(TextSql.norm("text"), langStopwords.head._2))} AS stop_ratio,
         |  CASE WHEN len(text) = 0 THEN NULL
         |       ELSE ROUND(CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE)
         |            / CAST(len(text) AS DOUBLE), 4) END AS upper_ratio,
         |  $wcSql >= 10
         |    AND ${perWordSql(stopSql(TextSql.norm("text"), langStopwords.head._2))} >= 0.02 AS passes
         |FROM d""".stripMargin,

    "q_quality_classifier" -> qualityClassifierOracle,

    // classifier eval: the retrained-model oracle becomes a CTE; AUC =
    // exact tie-corrected Mann-Whitney over value-grouped scores,
    // calibration deciles in integer micros — all integers until the
    // final divisions, mirrored op for op
    "q_classifier_eval" ->
      s"""WITH scored AS ($qualityClassifierOracle),
         |s AS (SELECT CAST(ROUND(p * 1e6, 0) AS BIGINT) AS p6,
         |        CAST(y AS BIGINT) AS y FROM scored),
         |grp AS (SELECT p6, COUNT(*) AS n, SUM(y) AS npos
         |        FROM s GROUP BY 1),
         |rk AS (SELECT p6, n, npos,
         |         SUM(n) OVER (ORDER BY p6 ROWS BETWEEN UNBOUNDED
         |           PRECEDING AND CURRENT ROW) - n AS cumb FROM grp),
         |tot AS (SELECT ROUND(CAST(SUM(npos * (2 * cumb + n + 1))
         |            - SUM(npos) * (SUM(npos) + 1) AS DOUBLE)
         |          / CAST(2 * SUM(npos) * SUM(n - npos) AS DOUBLE), 6)
         |          AS auc FROM rk),
         |cal AS (SELECT LEAST(p6 // 100000, 9) AS bucket, COUNT(*) AS n,
         |          SUM(y) AS n_pos, SUM(p6) AS sp6 FROM s GROUP BY 1)
         |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(n AS BIGINT) AS n,
         |  CAST(n_pos AS BIGINT) AS n_pos,
         |  ROUND(CAST(sp6 AS DOUBLE) / CAST(n AS DOUBLE) / 1e6, 6)
         |    AS mean_pred,
         |  ROUND(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6)
         |    AS frac_pos,
         |  auc
         |FROM cal, tot""".stripMargin,

    "q_token_count" ->
      s"""WITH d AS ($docsSql)
         |SELECT doc_id,
         |  CAST($wcSql AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '$tokenPattern')) AS BIGINT) AS re_tokens,
         |  CAST(CEIL(CAST(len(text) AS DOUBLE) / 4.0) AS BIGINT) AS est_bpe_tokens,
         |  ${perWordSql("len(text)")} AS chars_per_token
         |FROM d""".stripMargin,

    "q_fingerprint" ->
      s"""WITH d AS ($docsSql)
         |SELECT doc_id,
         |  ${TextSql.fp("text")} AS fp,
         |  ${TextSql.fp(TextSql.norm("text"))} AS fp_norm,
         |  CAST(len(text) AS BIGINT) AS n_chars
         |FROM d""".stripMargin)

  /** Gopher-style rule gate (Rae et al. 2021, table A1's shape): the
    * documented heuristic battery web pipelines apply before any model
    * scoring, with PER-RULE ATTRIBUTION — each rule is a flag column
    * and `first_fail` names the earliest failing rule, because "why was
    * my page dropped" is the question every filtered-corpus consumer
    * asks and a bare keep/drop bit can't answer. Row-local (one scan,
    * reused TextFunctions expressions), no shuffle. */
  def qGopherRules(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val nWords = wordCount(col("text"))
    val nChars = length(col("text")).cast("long")
    val nCharsNoWs =
      length(regexp_replace(col("text"), "\\s", "")).cast("long")
    val meanWordLen = when(nWords === 0, lit(0.0))
      .otherwise(nCharsNoWs.cast("double") / nWords.cast("double"))
    val nHash = reCount(col("text"), "#")
    val nEllipsis = reCount(col("text"), "\\.\\.\\.")
    val nStop = stopwordCount(norm(col("text")), langStopwords.head._2)
    val nAlphaWords = reCount(col("text"), "\\b[A-Za-z]+\\b")
    // the rule battery (doc-count thresholds scaled to this corpus's
    // short synthetic docs; the STRUCTURE is Gopher's)
    val rules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "word_count_min" -> (nWords >= 10),
      "word_count_max" -> (nWords <= 100000),
      "mean_word_len" -> (meanWordLen >= 2.0 && meanWordLen <= 12.0),
      "symbol_ratio" -> ((nHash + nEllipsis).cast("double")
        <= nWords.cast("double") * 0.1),
      "stopword_min" -> (nStop >= 1),
      "alpha_word_ratio" -> (nAlphaWords.cast("double")
        >= nWords.cast("double") * 0.7))
    val flags = rules.map { case (n, c) => c.as(s"ok_$n") }
    val base = d.select((col("doc_id") +: flags): _*)
    val keep = rules.map { case (n, _) => col(s"ok_$n") }.reduce(_ && _)
    val firstFail = rules.reverse.foldLeft(lit("none")) {
      case (acc, (n, _)) =>
        when(!col(s"ok_$n"), lit(n)).otherwise(acc)
    }
    base.select((col("doc_id") +:
      rules.map { case (n, _) => col(s"ok_$n") }) :+
      keep.as("keep") :+ firstFail.as("first_fail"): _*)
  }

  /** Language-ID EVAL — confusion matrix over the heuristic classifier
    * (the eval-harness family: retrieval row 84, dedup row 108, this
    * for lang-ID): per (actual, predicted) cell count with both
    * marginals and the per-actual fraction (diagonal rows ARE recall).
    * The corpus scores once; the confusion table is langs² rows and
    * its marginals broadcast back — corpus-free joins. */
  def qLangidEval(spark: SparkSession, dir: String): DataFrame = {
    val conf = qLangId(spark, dir).select(col("lang"), col("pred_lang"))
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      .localCheckpoint() // three consumers of a langs^2-row table
    val act = conf.groupBy("lang").agg(sum("n").as("n_actual"))
    val prd = conf.groupBy("pred_lang").agg(sum("n").as("n_pred"))
    conf.join(broadcast(act), Seq("lang"))
      .join(broadcast(prd), Seq("pred_lang"))
      .select(col("lang"), col("pred_lang"), col("n"),
        col("n_actual").cast("long").as("n_actual"),
        col("n_pred").cast("long").as("n_pred"),
        round(col("n").cast("double") / col("n_actual").cast("double"),
          4).as("frac_of_actual"))
  }

  /** Blocklist terms for the AC filter: the stopword inventory plus
    * policy-ish literals. Every term is BORDER-FREE (no proper
    * prefix = suffix), asserted below, so AC's every-occurrence count
    * equals the oracle's non-overlapping replace arithmetic. */
  // lazy: the oracles val (declared earlier in the file) references it
  private[queries] lazy val Blocklist: Seq[String] = {
    val ts = langStopwords.flatMap(_._2).distinct ++
      Seq("confidential", "password", "copyright", "lorem ipsum",
        "all rights reserved")
    ts.foreach { t =>
      require((1 until t.length).forall(k =>
        t.substring(0, k) != t.substring(t.length - k)),
        s"blocklist term '$t' has a border; AC overlap counts would " +
          "diverge from the oracle's replace arithmetic")
    }
    ts
  }

  /** Content filtering against a term blocklist — ONE Aho–Corasick
    * automaton pass per document (functions.BlocklistScan) where the
    * regex-alternation form pays engine overhead per char and the
    * per-term contains() form pays |terms| scans. Row-local; the
    * automaton ships inside the expression (the model-in-the-expression
    * serving shape). Output: total hits, distinct terms hit, first
    * match position, hits per kchar, and the filter verdict. */
  def qBlocklistFilter(spark: SparkSession, dir: String): DataFrame = {
    val b = graft.functions.BlocklistScan(lower(col("text")), Blocklist)
    docs(spark, dir)
      .select(col("doc_id"), b.as("b"),
        length(col("text")).cast("long").as("n_chars"))
      .select(col("doc_id"), col("b.n_hits").as("n_hits"),
        col("b.n_terms").as("n_terms"),
        col("b.first_pos").as("first_pos"), col("n_chars"),
        round(col("b.n_hits") * lit(1000.0)
          / (col("n_chars") + lit(1L)).cast("double"), 4)
          .as("hits_per_kchar"),
        (col("b.n_terms") >= 3).as("flagged"))
  }

  /** PMI collocations — the corpus-statistics pass that surfaces
    * multiword expressions (Church & Hanks 1990): adjacent-token bigram
    * counts vs unigram margins, pointwise mutual information over the
    * exact integer counts. ONE tokenize scan feeds unigrams AND bigrams
    * (lineage cut); bigrams are built ROW-LOCALLY (slice+zip over the
    * token array — no posexplode self-join); the min-count filter
    * prunes the long tail BEFORE the margin join-back, so the joins
    * move only collocation candidates, not the corpus. PMI's ln runs
    * over one exact rational built with a pinned multiply order
    * (transcendental + round-4, the ACOS precedent). */
  def qCollocationsPmi(spark: SparkSession, dir: String): DataFrame = {
    val MinC = 5L
    val toks = docs(spark, dir)
      .select(split(norm(col("text")), " ").as("ts"))
      .select(filter(col("ts"), t => length(t) > 0).as("ts"))
      .localCheckpoint() // unigrams + bigrams + totals, one scan
    val uni = toks.select(explode(col("ts")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bi = toks
      .select(explode(arrays_zip(
        slice(col("ts"), lit(1), greatest(size(col("ts")) - 1, lit(0))),
        slice(col("ts"), lit(2), greatest(size(col("ts")) - 1, lit(0)))))
        .as("p"))
      .select(col("p.0").as("w1"), col("p.1").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= MinC)
    val totals = toks.agg(
      sum(size(col("ts"))).as("n_uni"),
      sum(greatest(size(col("ts")) - 1, lit(0))).as("n_bi"))
    bi.join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        (round(log(
          ((col("c12").cast("double") * col("n_uni")) * col("n_uni"))
            / ((col("n_bi").cast("double") * col("c1")) * col("c2"))),
          4) + lit(0.0)).as("pmi")) // +0.0: -0.0 -> 0.0 on both engines
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_unigram_train" -> (qUnigramTrain _),
    "q_unigram_fertility" -> (qUnigramFertility _),
    "q_unigram_encode" -> (qUnigramEncode _),
    "q_collocations_pmi" -> (qCollocationsPmi _),
    "q_blocklist_filter" -> (qBlocklistFilter _),
    "q_langid_eval" -> (qLangidEval _),
    "q_classifier_eval" -> (qClassifierEval _),
    "q_gopher_rules" -> (qGopherRules _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_boilerplate_lines" -> (qBoilerplateLines _),
    "q_tokenizer_coverage" -> (qTokenizerCoverage _),
    "q_code_detect" -> (qCodeDetect _),
    "q_license_detect" -> (qLicenseDetect _),
    "q_mojibake" -> (qMojibake _),
    "q_lang_id" -> (qLangId _),
    "q_text_quality" -> (qTextQuality _),
    "q_quality_classifier" -> (qQualityClassifier _),
    "q_token_count" -> (qTokenCount _),
    "q_fingerprint" -> (qFingerprint _),
    "q_repetition" -> (qRepetition _),
    "q_ngram_novelty" -> (qNgramNovelty _),
    "q_winnow_fingerprint" -> (qWinnowFingerprint _),
    "q_winnow_overlap" -> (qWinnowOverlap _),
    "q_pii_redact" -> (qPiiRedact _),
    "q_lm_perplexity" -> (qLmPerplexity _),
    "q_kn_bigram_lm" -> (qKnBigramLm _),
    "q_kn_trigram_lm" -> (qKnTrigramLm _),
    "q_bpe_train" -> (qBpeTrain _),
    "q_bpe_train_deep" -> (qBpeTrainDeep _),
    "q_bpe_fertility" -> (qBpeFertility _),
    "q_bpe_fertility_lang" -> (qBpeFertilityLang _),
    "q_lang_keywords" -> (qLangKeywords _),
    "q_normalize_unicode" -> (qNormalizeUnicode _),
    "q_suffix_dedup" -> (qSuffixDedup _),
    "q_suffix_dedup_apply" -> (qSuffixDedupApply _),
    "q_suffix_dedup_delta" -> (qSuffixDedupDelta _),
    "q_bm25" -> (qBm25 _))
}
