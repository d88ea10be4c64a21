package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.{codes, fold}

/** Near-duplicate detection for document corpora (SURVEY.md §2 rows 29-31).
  *
  * Scale design: never all-pairs. Every variant generates candidate pairs
  * through an equi-join on a bounded-width key (rare shingle, minhash band
  * bucket, simhash band), so the shuffle is O(n·k) and the pair count is
  * bounded by posting-list caps — the standard LSH scale story. All hot
  * paths are codegen'd expressions (engine-portable rolling hashes, bit
  * ops, higher-order array functions); no UDFs — and because the hashes
  * are portable, every variant is hash-checked against the DuckDB oracle.
  */
object Dedup {

  /** Mersenne-ish prime for minhash universal hashing; small enough that
    * a*h+b stays well inside a 64-bit long under ANSI arithmetic. */
  private val P = 2147483647L

  /** Rolling polynomial hash of every k-shingle, one row per occurrence
    * (doc_id, s: long). Hash values are identical to folding
    * `(acc*mult + ascii(c)) % mod` over the shingle's characters — the
    * engine-portable form the DuckDB oracles replay — computed by the
    * native O(len) rolling-hash kernel (functions.ShingleHash): one tight
    * codegen'd loop per document, no per-char string rows, no interpreted
    * lambda folds. (History: the HOF form — split + per-position
    * aggregate-slice fold — measured 2.2 s of q_dedup_ngram_jaccard's
    * 5.7 s at sf0.1; the kernel makes the scan I/O-bound.) Docs shorter
    * than k chars hash to NULL -> explode emits nothing. */
  def shingleHashes(docs: DataFrame, k: Int, mult: Long, mod: Long): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.ShingleHash(col("text"), k, mult, mod)).as("s"))

  /** Each document's DISTINCT k-shingle hashes, one row per (doc_id, s).
    * The distinct is row-local (array_distinct over the kernel's hash
    * array), so it costs no exchange. Contract: doc_id is a row key of
    * `docs` — two rows with one id count as two documents. */
  private def distinctShingles(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), explode(array_distinct(
      graft.functions.ShingleHash(col("text"), k, 131L, 1000000007L))).as("s"))

  /** Rare-shingle overlap of every candidate pair: (ida < idb, shared,
    * na, nb), where a shingle is rare when its document frequency df is
    * <= maxDf, n is a document's count of distinct rare shingles and
    * shared counts the rare shingles both documents hold.
    *
    * One pass over the shingle partition: a windowed count gives df, a
    * second window over the rare rows lists each shingle's <= maxDf
    * documents (a hot shingle holds no more state than a rare one), and
    * each row pairs its document with the listed ids >= its own. ONE
    * (ida, idb) sum then counts shared, and -n on the (a, a) rows. The
    * consumers split on its sign: a predicate on the keys would be
    * pushed below the aggregate and re-run the windows per consumer. At
    * most maxDf^2 candidates per shingle, never all-pairs; rolling-hash
    * shingles let the oracle match exactly (collisions included). Same
    * row-key contract as [[distinctShingles]]. */
  private def rareOverlap(docs: DataFrame, k: Int, maxDf: Int): DataFrame = {
    val w = Window.partitionBy("s")
    val counts = distinctShingles(docs, k)
      .withColumn("df", count(lit(1)).over(w))
      .filter(col("df") <= maxDf)
      .withColumn("ids", collect_list("doc_id").over(w))
      .select(col("doc_id").as("ida"), explode(col("ids")).as("idb"))
      .filter(col("ida") <= col("idb"))
      .groupBy("ida", "idb")
      .agg(sum(when(col("ida") === col("idb"), -1L).otherwise(1L)).as("c"))
    // one row per doc: NOT broadcast-safe at corpus scale; AQE decides
    val sizes = counts.filter(col("c") < 0)
      .select(col("ida").as("id"), (-col("c")).as("n"))
    counts.filter(col("c") > 0).as("p")
      .join(sizes.as("a"), col("p.ida") === col("a.id"))
      .join(sizes.as("b"), col("p.idb") === col("b.id"))
      .select(col("p.ida"), col("p.idb"), col("p.c").as("shared"),
        col("a.n").as("na"), col("b.n").as("nb"))
  }

  /** N-gram Jaccard near-dup pairs over rare shingles.
    *
    * Shingles with document frequency > maxDf are dropped before candidate
    * generation (they would blow the per-shingle candidates and carry no
    * signal); Jaccard is computed over each document's *rare* shingle set.
    * Returns (ida, idb, shared, na, nb, jac) for jac >= minJac. doc_id
    * must be a row key of `docs`.
    */
  def ngramJaccard(docs: DataFrame, k: Int, maxDf: Int,
                   minJac: Double): DataFrame =
    rareOverlap(docs, k, maxDf)
      .withColumn("jac",
        round(col("shared").cast("double")
          / (col("na") + col("nb") - col("shared")).cast("double"), 4))
      .filter(col("jac") >= minJac)
      .select("ida", "idb", "shared", "na", "nb", "jac")

  /** One-sided CONTAINMENT near-dup pairs — the dedup case symmetric
    * Jaccard misses: a short document embedded in a long one (quoted
    * article, boilerplate-wrapped fragment — the Lee-et-al substring
    * case) has jac ≈ |A|/|B| ≈ 0 but containment |A∩B|/|A| ≈ 1.
    * Same rare-shingle overlap as [[ngramJaccard]] (never all-pairs);
    * the pair stats yield BOTH directed containments and the contained
    * side is the one with the higher score (ties to ida). doc_id must
    * be a row key of `docs`. */
  def containmentPairs(docs: DataFrame, k: Int, maxDf: Int,
                       minCont: Double): DataFrame =
    rareOverlap(docs, k, maxDf)
      .withColumn("cont_a",
        round(col("shared").cast("double") / col("na").cast("double"), 4))
      .withColumn("cont_b",
        round(col("shared").cast("double") / col("nb").cast("double"), 4))
      .filter(greatest(col("cont_a"), col("cont_b")) >= minCont)
      .withColumn("inner_id",
        when(col("cont_a") >= col("cont_b"), col("ida"))
          .otherwise(col("idb")))
      .select("ida", "idb", "shared", "na", "nb", "cont_a", "cont_b",
        "inner_id")

  /** Band hashes of the `sig` array (bands x rowsPerBand fold). */
  private def bandHashExprs(numHashes: Int, bands: Int): Column = {
    val rows = numHashes / bands
    array((0 until bands).map { bi =>
      fold(slice(col("sig"), bi * rows + 1, rows), 33L, P)
    }: _*)
  }

  /** Row-local LSH band keys (doc_id, band, bh) — the streaming-legal
    * signature path (no per-doc aggregation). Signatures come from the
    * NATIVE MinHashSig kernel, whose spec pins it bit-equal to the
    * shuffle pipeline (`StreamingSpec.minhashSignatures`); an
    * interpreted HOF fold was ~60x slower per doc. */
  def minhashBandKeysRowLocal(docs: DataFrame, k: Int, numHashes: Int,
                              bands: Int): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.MinHashSig(col("text"), k, numHashes).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id"),
        posexplode(bandHashExprs(numHashes, bands)).as(Seq("band", "bh")))

  /** MinHash + LSH banding: candidate pairs from band-bucket equi-joins,
    * verified by signature agreement (estimated Jaccard) >= minEst.
    * numHashes must be bands * rowsPerBand. */
  def minhashPairs(docs: DataFrame, k: Int, numHashes: Int, bands: Int,
                   minEst: Double): DataFrame = {
    // NATIVE row-local signature build (functions.MinHashSig): one tight
    // JVM loop per document, no shingle explode, no exchange. Bit-equal
    // to the shuffle pipeline AND the HOF row-local form (spec-asserted).
    // Materialize the signature table ONCE: both join sides consume it,
    // and without the lineage cut the kernel scans the corpus text twice
    // (once per side). 64 longs/doc is the standard signature-table
    // footprint an LSH dedup materializes at any scale — far smaller
    // than the text column it replaces.
    val sigs = docs
      .select(col("doc_id"),
        graft.functions.MinHashSig(col("text"), k, numHashes).as("sig"))
      .filter(col("sig").isNotNull)
      .localCheckpoint()
    val banded = sigs.select(col("doc_id"), col("sig"),
      posexplode(bandHashExprs(numHashes, bands)).as(Seq("band", "bh")))
    val a = banded.select(col("band"), col("bh"),
      col("doc_id").as("ida"), col("sig").as("siga"))
    val b = banded.select(col("band"), col("bh"),
      col("doc_id").as("idb"), col("sig").as("sigb"))
    // MIN-BAND pair dedup (the reference-point trick from Rects): a pair
    // matching in several bands would emerge once per band; instead of a
    // dropDuplicates shuffle over rows still carrying both 64-long sigs,
    // each joined row recomputes both docs' band hashes ROW-LOCALLY and
    // survives only in the FIRST band where they agree — the exact join
    // multiplicity, so the candidate set is unchanged (spec-asserted)
    // and the plan's only exchange is the band-bucket join. Band match
    // + signature agreement run as ONE native kernel call per candidate
    // (functions.MinHashPairEval) — the HOF fold/zip_with form of the
    // same math is CodegenFallback, interpreted once per joined row.
    a.join(b, Seq("band", "bh"))
      .filter(col("ida") < col("idb"))
      .withColumn("pe", graft.functions.MinHashPairEval(
        col("siga"), col("sigb"), numHashes, bands))
      .filter(col("band") === col("pe.first_band"))
      .withColumn("est", col("pe.est"))
      .filter(col("est") >= minEst)
      .select("ida", "idb", "est")
  }

  /** Cross-document duplicated SPANS (substring-level dedup, the
    * "Deduplicating Training Data Makes Language Models Better" shape):
    * documents sharing whole near-verbatim passages keep them even when
    * the documents as wholes are not near-dups. Every k-char shingle
    * position is hashed (native ShingleHash; posexplode supplies the
    * position for free — array order IS text order), shingles occurring
    * in >= 2 DISTINCT documents are found with a min!=max aggregate (no
    * count-distinct), flagged positions join back by shingle hash, and
    * per-document runs of consecutive flagged positions merge into
    * spans by the gaps-and-islands window (pos - row_number). Windows
    * partition by doc_id — high cardinality, so per-key volume is one
    * document's positions at any corpus size. Returns
    * (doc_id, span_start 0-based, span_end exclusive, n_shingles).
    *
    * Skew note (why an aggregate + join-back, not a window over s): a
    * measured window-min/max over s is ~30% faster on the test corpus,
    * but an ultra-common shingle (whitespace runs, boilerplate) pours
    * ALL its positions through one window task at corpus scale. The
    * aggregate map-side combines the hot key to one row per partition,
    * and `maxDf` drops stop-shingles from the dup table — bounding the
    * join-back's per-key fan-out AND keeping the table small enough
    * for AQE to broadcast it (Lee et al. cap duplicate-cluster sizes
    * the same way for tractability). */
  def duplicatedSpans(docs: DataFrame, k: Int, maxDf: Int): DataFrame = {
    // The per-position shingle table feeds BOTH the dup-shingle aggregate
    // and the join-back below; localCheckpoint materializes it once so the
    // posexplode+ShingleHash corpus scan runs once, not twice (the same
    // lineage cut that took qSplitStratified from 4.6x to 0.94x scaling).
    // Footprint is (long, int, long) per shingle position — the standard
    // positional-index artifact a substring-dedup pass materializes.
    val sh = docs
      .select(col("doc_id"),
        posexplode(graft.functions.ShingleHash(
          lower(col("text")), k, 131L, 1000000007L)).as(Seq("pos", "s")))
      .localCheckpoint()
    val dup = sh.groupBy("s")
      .agg(min("doc_id").as("mn"), max("doc_id").as("mx"),
        count(lit(1)).as("df"))
      .filter(col("mn") =!= col("mx") && col("df") <= maxDf)
      .select("s")
    val flagged = sh.join(dup, "s").select("doc_id", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    flagged
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + k).cast("long").as("span_end"),
        count(lit(1)).as("n_shingles"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_len"),
        col("n_shingles"))
  }

  /** INCREMENTAL near-dup: dedup a new batch against an existing corpus
    * without comparing the corpus to itself — the production shape for
    * rolling ingestion (the full-corpus pair join never reruns; only
    * delta x index candidates are generated). Candidates come from the
    * asymmetric band-bucket equi-join of the delta's band keys against
    * the index's; each candidate is verified by ONE MinHashPairEval
    * kernel call with min-band dedup (a pair agreeing in several bands
    * survives only in its first agreeing band — no wide-row
    * dropDuplicates). Per delta doc the BEST match (highest estimated
    * Jaccard, smallest index id on ties — exact, since est = k/64 is a
    * dyadic rational) is selected by a lexicographic struct max, and
    * unmatched docs report (-1, 0.0, false).
    *
    * At corpus scale the index side is the PRECOMPUTED signature table
    * (64 longs/doc, the standard LSH index artifact — bucketed by
    * (band, bh) at write so the candidate join is co-located); here it
    * is derived inline so the oracle can replay end to end. */
  def minhashDelta(delta: DataFrame, index: DataFrame, k: Int,
                   numHashes: Int, bands: Int, minEst: Double): DataFrame = {
    def sigsOf(df: DataFrame) = df
      .select(col("doc_id"),
        graft.functions.MinHashSig(col("text"), k, numHashes).as("sig"))
      .filter(col("sig").isNotNull)
    val dsig = sigsOf(delta).localCheckpoint()
    val db = dsig.select(col("doc_id").as("nid"), col("sig").as("nsig"),
      posexplode(bandHashExprs(numHashes, bands)).as(Seq("band", "bh")))
    val ib = sigsOf(index)
      .select(col("doc_id").as("iid"), col("sig").as("isig"),
        posexplode(bandHashExprs(numHashes, bands)).as(Seq("band", "bh")))
    val cand = db.join(ib, Seq("band", "bh"))
      .withColumn("pe", graft.functions.MinHashPairEval(
        col("nsig"), col("isig"), numHashes, bands))
      .filter(col("band") === col("pe.first_band"))
      .filter(col("pe.est") >= minEst)
    val best = cand.groupBy("nid")
      .agg(max(struct(col("pe.est").as("e"), (-col("iid")).as("ni")))
        .as("m"))
    dsig.select(col("doc_id"))
      .join(best, col("doc_id") === col("nid"), "left")
      .select(col("doc_id"),
        coalesce(-col("m.ni"), lit(-1L)).as("matched_id"),
        coalesce(round(col("m.e"), 4), lit(0.0)).as("est"),
        col("nid").isNotNull.as("is_dup"))
  }

  /** Benchmark DECONTAMINATION: per corpus document, the fraction of its
    * distinct k-shingles that also appear anywhere in a benchmark set —
    * the n-gram-overlap test a training pipeline runs so evaluation data
    * does not leak into the corpus.
    *
    * Scale design: benchmark suites are orders of magnitude smaller than
    * the corpus, so the distinct benchmark-shingle set is BROADCAST and
    * the contamination count is a map-side semi-join. Each document's
    * shingle distinct is row-local ([[distinctShingles]]), so the corpus
    * streams once: the broadcast LEFT join marks hits and ONE conditional
    * aggregate counts total and hit shingles per document. That
    * aggregate's map side folds each document to one row, so the only
    * corpus exchange carries about one row per document. doc_id must be
    * a row key of `corpus`.
    * Returns (doc_id, n_shingles, n_hits, ratio, flagged); docs shorter
    * than k chars have no shingles and drop out (mirrored by oracle). */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, k: Int,
                    flagAt: Double): DataFrame = {
    val benchSh = shingleHashes(benchmark, k, 131L, 1000000007L)
      .select(col("s")).distinct().withColumn("hit", lit(1L))
    distinctShingles(corpus, k).join(broadcast(benchSh), Seq("s"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("doc_id"), col("n_shingles"), col("n_hits"),
        round(col("n_hits").cast("double")
          / col("n_shingles").cast("double"), 4).as("ratio"))
      .withColumn("flagged", col("ratio") >= flagAt)
  }

  /** Bloom-prefilter decontamination — the [[decontaminate]] shape for
    * the regime where the benchmark shingle set is too big to BROADCAST
    * exactly: a fixed 1 Mbit / 4-hash Bloom filter of the benchmark set
    * is the only thing the driver ships, corpus shingles test against it
    * map-side, and ONLY the pass-survivors (true hits + a few false
    * positives) flow into the exact equi-join that confirms them — the
    * semi-join-reduction / runtime-filter shape (Spark's own
    * InjectRuntimeFilter plants the same pattern under joins). The final
    * counts are EXACT: a Bloom filter has no false negatives, and the
    * confirm join removes its false positives; the filter only decides
    * how few rows shuffle.
    *
    * Filter build is ONE aggregate over benchmark shingles (probe
    * positions → bit_or per 32-bit word, map-side combined to ≤32768
    * rows) collected as a driver-sized model — the centroid/codebook
    * pattern. The layout, hashes and bit test are [[Bloom]]'s.
    *
    * Returns (doc_id, n_shingles, n_bloom_pass, n_hits, n_false_pos,
    * ratio, flagged) — the diagnostic columns pin the FILTER itself, not
    * just the exact result, so the oracle independently replays bloom
    * membership as position-set containment (bit p is set iff some
    * benchmark probe lands on p — the packed words and the position set
    * define the same predicate). doc_id must be a row key of `corpus`. */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame, k: Int,
                         flagAt: Double): DataFrame = {
    val MBits = 1048576L // 1 Mbit = 32768 x 32-bit words (256 KiB model)
    val benchSh = shingleHashes(benchmark, k, 131L, 1000000007L)
      .select(col("s")).distinct()
    val words = new Array[Long](32768)
    Bloom.words(benchSh, "s", MBits, Nil).collect()
      .foreach(r => words(r.getInt(0)) = r.getLong(1))
    val mightContain =
      Bloom.mightContain(typedLit(words.toSeq), col("s"), MBits)

    // one distinct-shingle scan feeds both the per-doc counts and the
    // confirm join — materialize it once (the multi-consumer lineage cut)
    val sh = distinctShingles(corpus, k)
      .withColumn("pass", mightContain)
      .localCheckpoint()
    val perDoc = sh.groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_bloom_pass"))
    // the at-scale join: survivors only, NOT broadcast — the premise is
    // a benchmark set past broadcast size, so this is a plain equi-join
    // whose left side the bloom already collapsed
    val hits = sh.filter(col("pass")).join(benchSh, Seq("s"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    perDoc.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"), col("n_bloom_pass"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (col("n_bloom_pass") - coalesce(col("n_hits"), lit(0L)))
          .as("n_false_pos"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double")
          / col("n_shingles").cast("double"), 4).as("ratio"))
      .withColumn("flagged", col("ratio") >= flagAt)
  }

  /** Transitive dedup clustering: connected components over a near-dup
    * pair table via min-label propagation, then a canonical (minimum)
    * doc id per component. `iters` bounds the component diameter handled
    * (near-dup components are shallow in practice; raise it for longer
    * chains): after i hops a node's label is the minimum id within i
    * edges of it. Each hop is one min-aggregate (after an equi-join from
    * hop 2 on); docs in no pair are their own. doc_id is a row key. */
  def dedupClusters(docs: DataFrame, pairs: DataFrame,
                    iters: Int = 4): DataFrame = {
    // The hop table: both directions of every pair plus self-loops, so
    // a hop's min over N(v) ∪ {v} is one join + aggregate (clustersOracle's
    // UNION ALL recurrence); min ignores duplicate rows, so no distinct.
    // Its eager localCheckpoint reads the (possibly expensive) pair table
    // once and is the only materialization. Local checkpoints live on
    // executors: on preemption-prone clusters swap in Dataset.checkpoint.
    val hop = pairs
      .select(explode(array(
        struct(col("ida").as("src"), col("idb").as("dst")),
        struct(col("idb").as("src"), col("ida").as("dst")),
        struct(col("ida").as("src"), col("ida").as("dst")),
        struct(col("idb").as("src"), col("idb").as("dst")))).as("e"))
      .select("e.*")
      .localCheckpoint()
      // null ids are no edge; filtering every read alike gives each hop
      // the same hop plan, so AQE reuses one exchange of it
      .filter(col("src").isNotNull && col("dst").isNotNull)
    // (node, label) rows whose min per node is the labels after a hop;
    // hop 1 needs no join, since labels0(v) = v
    var hopped = hop.select(col("dst").as("node"), col("src").as("label"))
    for (_ <- 2 to iters)
      hopped = hop.join(hopped.groupBy(col("node").as("src"))
          .agg(min("label").as("label")), "src")
        .select(col("dst").as("node"), col("label"))
    // every doc enters the last aggregate as its own label (no docs
    // join); in_docs drops pair ids that are not docs
    val self = docs.select(col("doc_id").as("node"),
      col("doc_id").as("label"), lit(true).as("in_docs"))
    val labeled = if (iters == 0) self
      else hopped.withColumn("in_docs", lit(false)).unionByName(self)
    labeled.groupBy(col("node").as("doc_id"))
      .agg(min("label").as("canonical_id"), max("in_docs").as("in_docs"))
      .filter(col("in_docs"))
      .select(col("doc_id"), col("canonical_id"),
        (col("doc_id") =!= col("canonical_id")).as("is_dup"))
  }

  /** 60-bit SimHash over whitespace tokens; near-dup pairs via 4x15-bit
    * band buckets, verified by Hamming distance <= maxHamming. Token
    * bits come from two polynomial rolling hashes (31x / 37x, mod 2^31-1,
    * 30 bits each) instead of xxhash64 so the pipeline has an exact
    * DuckDB twin. */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    // Final 2654435761x mixing multiply spreads short tokens' small hash
    // values across all 30 bits (a bare rolling hash of a 3-char word
    // never touches the high bits, which would blow up band collisions).
    def hash(mult: Long) =
      (fold(codes(col("w")), mult, P) * lit(2654435761L)) % lit(P)
    val toks = docs
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .withColumn("h1", hash(31L))
      .withColumn("h2", hash(37L))
    val bitSums = (0 until 60).map { i =>
      val src = if (i < 30) col("h1") else col("h2")
      sum(when(shiftright(src, i % 30).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"b$i")
    }
    val sigs = toks.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 60).map { i =>
          when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
        }.reduceLeft((a, c) => a.bitwiseOR(c)).as("sig"))
    val bandVals = array((0 until 4).map { j =>
      shiftright(col("sig"), j * 15).bitwiseAND(lit(0x7FFFL))
    }: _*)
    val banded = sigs.select(col("doc_id"), col("sig"),
      posexplode(bandVals).as(Seq("band", "bv")))
    val a = banded.select(col("band"), col("bv"),
      col("doc_id").as("ida"), col("sig").as("siga"))
    val b = banded.select(col("band"), col("bv"),
      col("doc_id").as("idb"), col("sig").as("sigb"))
    // min-band pair dedup, as in minhashPairs: the 4 band values of each
    // 60-bit sig are recomputed row-locally, and the pair survives only
    // in the first band where they agree — no dropDuplicates shuffle.
    def bandOf(sig: Column, j: Int): Column =
      shiftright(sig, j * 15).bitwiseAND(lit(0x7FFFL))
    val firstMatchingBand = (0 until 4).reverse
      .foldLeft(lit(-1): Column) { (els, j) =>
        when(bandOf(col("siga"), j) === bandOf(col("sigb"), j), j)
          .otherwise(els)
      }
    a.join(b, Seq("band", "bv"))
      .filter(col("ida") < col("idb"))
      .filter(col("band") === firstMatchingBand)
      .withColumn("hamming",
        bit_count(col("siga").bitwiseXOR(col("sigb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("ida", "idb", "hamming")
  }
}
