package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ann, Dedup}

class DedupAnnSpec extends AnyFunSuite with SharedSpark {

  private def docsOf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("ImageHash dHash: brightness invariance, in-group identity, " +
    "pair query verifies Hamming and band sharing") {
    import graft.operators.{ImageHash, Multimodal}
    // dHash robustness: a UNIFORM brightness shift cancels in every
    // gradient comparison -> identical hash (no mod wrap: base <= 209,
    // +bump 40, +shift 5 stays < 256)
    def img(shift: Int): Multimodal.BmpImage =
      Multimodal.decodeBmp(Multimodal.writeBmp24(12, 9, (x, y) =>
        (40 + (x * 29 + y * 23) % 170 + shift,
          40 + (x * 17 + y * 5) % 170 + shift,
          40 + (x * 13 + y * 31) % 170 + shift)))
    assert(ImageHash.dhash60(img(0)) === ImageHash.dhash60(img(5)))
    // docs 0/4000/8000: same group (d % 1000), zero bumps (d % 4 = 0)
    // -> byte-identical images -> Hamming-0 pairs
    def sig(d: Long) = ImageHash.dhash60(
      Multimodal.decodeBmp(ImageHash.synthGroupBmpBytes(d)))
    assert(sig(0L) === sig(4000L))
    assert(sig(0L) === sig(8000L))
    // signatures stay within 60 bits (DuckDB shift portability)
    for (d <- 0L to 50L) assert((sig(d) >>> 60) === 0L)
    import spark.implicits._
    val docs = Seq(0L, 4000L, 8000L, 1L, 2L, 3L, 5L, 1001L, 2003L)
      .toDF("doc_id")
    val pairs = ImageHash.dhashPairs(docs, maxHamming = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val identical = Set((0L, 4000L), (0L, 8000L), (4000L, 8000L))
    assert(identical.subsetOf(pairs.map(p => (p._1, p._2)).toSet))
    for ((a, b, ham) <- pairs) {
      val (sa, sb) = (sig(a), sig(b))
      assert(ham === java.lang.Long.bitCount(sa ^ sb) && ham <= 10)
      assert((0 until 4).exists(j =>
        ((sa >> (j * 15)) & 0x7FFF) === ((sb >> (j * 15)) & 0x7FFF)))
    }
    // every identical-signature pair in the frame is emitted exactly once
    assert(pairs.map(p => (p._1, p._2)).distinct.length === pairs.length)
  }

  test("binary Hamming ANN: packing matches local sign bits, top-k " +
    "matches local brute force, recall bounded") {
    import spark.implicits._
    // deterministic synthetic vectors with mixed signs
    def vec(id: Long): Array[Float] =
      Array.tabulate(64)(i => (((id * 31 + i * 17) % 13) - 6).toFloat / 7f)
    val ids = (0L until 40L)
    val e = ids.map(id => (id, vec(id))).toDF("vec_id", "embedding")
    val out = Ann.binaryTopK(e, e.filter(col("vec_id") % 10 === 0), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getInt(2), r.getLong(3)))
    // local reference: pack sign bits, rank by (hamming, nid)
    def packed(id: Long): Long =
      vec(id).zipWithIndex.map { case (x, i) =>
        if (x > 0) 1L << i else 0L }.reduce(_ | _)
    for (qid <- ids if qid % 10 == 0) {
      val expect = ids.filter(_ != qid)
        .map(n => (java.lang.Long.bitCount(packed(qid) ^ packed(n)), n))
        .sorted.take(5)
      val got = out.filter(_._1 == qid).sortBy(_._3)
      assert(got.map(g => (g._4.toInt, g._2)).toSeq === expect.toSeq)
    }
    val rec = Ann.recallAtK(Ann.binaryTopK(e, e.limit(3), 5),
      Ann.cosineTopK(e, e.limit(3), 5), 5).collect()
    for (r <- rec) {
      val recall = r.getAs[Double]("recall")
      assert(recall >= 0.0 && recall <= 1.0)
    }
  }

  test("snapshot diff: statuses partition the id space and follow " +
    "content, not the id rule") {
    import graft.queries.CurationQueries
    val out = CurationQueries
      .qSnapshotDiff(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("status")))
    val byStatus = out.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    // id rules: added = only in cur (7k+3 minus the 13k+5 drops),
    // removed = only in prev
    for ((d, s) <- out) {
      if (s == "added") assert(d % 7 == 3 && d % 13 != 5)
      if (s == "removed") assert(d % 13 == 5 && d % 7 != 3)
      // changed requires the truncation rule to have applied AND bitten
      if (s == "changed") assert(d % 11 == 0)
    }
    // every surviving doc appears exactly once
    assert(out.map(_._1).distinct.length === out.length)
    assert(Set("added", "removed", "changed", "unchanged")
      .subsetOf(byStatus.keySet))
    // docs whose text is <= 40 chars truncate to themselves: unchanged
    // even though the edit rule selected them (status follows content)
    val shortIds = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .selectExpr("CAST(doc_id AS LONG) AS id", "CAST(len(text) AS LONG) AS n")
      .collect().filter(r => r.getLong(0) % 11 == 0 && r.getLong(1) <= 40)
      .map(_.getLong(0)).toSet
    for (d <- shortIds if d % 7 != 3 && d % 13 != 5)
      assert(byStatus("unchanged").contains(d))
  }

  test("quality thresholds: terciles are percentile_disc of the score " +
    "distribution and every bucket agrees with its thresholds") {
    import graft.queries.CurationQueries
    val out = CurationQueries
      .qQualityThresholds(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    val byLang = out.groupBy(_.getAs[String]("lang"))
    for ((_, rows) <- byLang) {
      val scores = rows.map(_.getAs[Long]("score")).sorted
      val n = scores.length
      val (t33, t66) = (rows.head.getAs[Long]("t33"),
        rows.head.getAs[Long]("t66"))
      // percentile_disc: smallest score whose cum count >= ceil(q*n)
      assert(t33 === scores((n + 2) / 3 - 1))
      assert(t66 === scores((n * 2 + 2) / 3 - 1))
      for (r <- rows) {
        val (s, b) = (r.getAs[Long]("score"), r.getAs[String]("bucket"))
        val expect = if (s >= t66) "head" else if (s >= t33) "middle"
          else "tail"
        assert(b === expect)
        // all rows of a lang carry the same thresholds
        assert(r.getAs[Long]("t33") === t33 &&
          r.getAs[Long]("t66") === t66)
      }
      // no bucket is empty unless the distribution is degenerate
      if (t33 != t66) {
        val bs = rows.map(_.getAs[String]("bucket")).toSet
        assert(bs.contains("head") && bs.contains("tail"))
      }
    }
  }

  test("PCA power iteration: unit vector, dominant direction, " +
    "deterministic across runs") {
    import graft.operators.Pca
    import spark.implicits._
    // anisotropic synthetic data: variance concentrated on a known axis
    def vec(id: Long): Array[Float] = Array.tabulate(64) { i =>
      val noise = (((id * 37 + i * 11) % 19) - 9).toFloat / 90f
      if (i == 7) ((id % 13) - 6).toFloat + noise else noise
    }
    val e = (0L until 200L).map(id => (id, vec(id)))
      .toDF("vec_id", "embedding")
    val v = Pca.powerIteration(e, 64, iters = 4)
    val nrm = math.sqrt(v.map(x => x * x).sum)
    assert(math.abs(nrm - 1.0) < 1e-9)
    // the dominant coordinate must dominate the component
    assert(math.abs(v(7)) > 0.9)
    // Rayleigh quotient of v beats every coordinate axis (local check
    // over the collected frame — test-only)
    val rows = e.collect().map(_.getAs[Seq[Float]]("embedding")
      .map(_.toDouble).toArray)
    def rayleigh(d: Array[Double]): Double = {
      val n = math.sqrt(d.map(x => x * x).sum)
      rows.map(r => math.pow(r.zip(d).map { case (a, b) => a * b / n }.sum,
        2)).sum
    }
    val rv = rayleigh(v)
    for (ax <- 0 until 64) {
      val d = Array.tabulate(64)(i => if (i == ax) 1.0 else 0.0)
      assert(rv >= rayleigh(d) - 1e-6)
    }
    // bit-identical retrain
    assert(Pca.powerIteration(e, 64, iters = 4).toSeq === v.toSeq)
  }

  test("phrase search: counts overlapping occurrences and positions " +
    "match a plain-Scala scan") {
    import graft.queries.RetrievalQueries
    val dir = "/root/testdata/sf0.001"
    val out = RetrievalQueries.qPhraseSearch(spark, dir).collect()
      .map(r => (r.getAs[String]("phrase"), r.getAs[Long]("doc_id")) ->
        (r.getAs[Long]("n_matches"), r.getAs[Long]("first_pos"))).toMap
    val texts = Tables.load(spark, dir, "documents")
      .selectExpr("CAST(doc_id AS LONG) AS doc_id", "lower(text) AS t")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val phrases = Seq("fast table", "table table", "big data",
      "value table part", "scan scan slow")
    var checked = 0
    for ((docId, t) <- texts; ph <- phrases) {
      val toks = "[a-z]+".r.findAllIn(t).toArray
      val ws = ph.split(" ")
      // overlapping matches: every start where the next |ws| tokens agree
      val starts = (0 to toks.length - ws.length)
        .filter(s => ws.indices.forall(k => toks(s + k) == ws(k)))
      val got = out.get((ph, docId))
      if (starts.isEmpty) assert(got.isEmpty)
      else {
        assert(got.contains((starts.length.toLong,
          starts.head.toLong + 1)))
        checked += 1
      }
    }
    assert(checked > 0) // the workload actually exercises matches
    // overlap semantics pinned: "table table table" has TWO matches of
    // the bigram "table table" — visible in the real corpus iff some doc
    // has a triple; assert on a synthetic check of the local reference
    val triple = "key table table table scan".split(" ")
    val s2 = (0 to triple.length - 2)
      .count(s => triple(s) == "table" && triple(s + 1) == "table")
    assert(s2 === 2)
  }

  test("retrieval eval: metric bounds and internal consistency") {
    import graft.queries.RetrievalQueries
    val out = RetrievalQueries.qRetrievalEval(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.length === 6)
    for (r <- out) {
      val (nRel, nRet) = (r.getAs[Long]("n_rel"), r.getAs[Long]("n_rel_ret"))
      val (mrr, prec, ndcg) = (r.getAs[Double]("mrr10"),
        r.getAs[Double]("prec10"), r.getAs[Double]("ndcg10"))
      assert(nRet <= 10 && nRet <= nRel)
      assert(mrr >= 0.0 && mrr <= 1.0)
      assert(ndcg >= 0.0 && ndcg <= 1.0)
      assert(prec === nRet / 10.0)
      // a retrieved relevant doc implies a nonzero reciprocal rank
      if (nRet > 0) assert(mrr > 0.0)
    }
  }

  test("two-stage rerank: per-query recall >= raw PQ recall; output " +
    "shape matches the exact baseline") {
    import graft.queries.AnnQueries
    val dir = "/root/testdata/sf0.001"
    val rr = AnnQueries.qAnnRecallRerank(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("recall")).toMap
    val pq = AnnQueries.qAnnRecallPq(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("recall")).toMap
    assert(rr.keySet === pq.keySet && rr.nonEmpty)
    // shortlist ⊇ PQ top-k and exact scoring promotes every true
    // neighbor present, so refine can never lose recall
    for ((qid, r) <- rr) assert(r >= pq(qid), s"qid=$qid $r < ${pq(qid)}")
    val out = AnnQueries.qAnnPqRerank(spark, dir).collect()
    assert(out.map(_.getLong(0)).distinct.length * 10 === out.length)
  }

  test("HLL distinct: exact column is the true hash cardinality, " +
    "estimate within sketch tolerance, registers bounded at 512") {
    import graft.queries.RetrievalQueries
    val dir = "/root/testdata/sf0.001"
    val out = RetrievalQueries.qHllDistinct(spark, dir).collect()
    assert(out.nonEmpty)
    // independent truth: distinct (lang, fingerprint) count per lang
    import graft.functions.TextFunctions.rollingFingerprint
    val truth = graft.Tables.load(spark, dir, "documents")
      .select(col("lang"),
        explode(split(lower(col("text")), "\\W+")).as("w"))
      .where(length(col("w")) > 0)
      .select(col("lang"),
        ((rollingFingerprint(col("w")) * lit(2654435761L))
          % lit(2147483647L)).as("h"))
      .distinct().groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (r <- out) {
      val lang = r.getAs[String]("lang")
      val exact = r.getAs[Long]("exact_distinct")
      assert(exact === truth(lang))
      val zeros = r.getAs[Long]("zeros")
      assert(zeros >= 0 && zeros <= 512)
      // 512 registers -> sigma ~ 4.6% (dense) / linear counting (sparse);
      // 25% is a loose CI-stable bound
      assert(r.getAs[Double]("err_pct") < 25.0,
        s"$lang err ${r.getAs[Double]("err_pct")}")
    }
  }

  test("ngramJaccard: identical docs score 1.0, disjoint absent") {
    val d = docsOf(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "the quick brown fox jumps over the lazy dog again and again",
      3L -> "completely different content with nothing shared whatsoever!!")
    val out = Dedup.ngramJaccard(d, k = 8, maxDf = 10, minJac = 0.5)
      .collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("ida") === 1L)
    assert(out.head.getAs[Long]("idb") === 2L)
    assert(out.head.getAs[Double]("jac") === 1.0)
  }

  // k = 4 shingle hashes are base-131 numerals below the 1e9+7 modulus,
  // so distinct shingles never collide and every set below is exact
  private def jaccardRows(d: org.apache.spark.sql.DataFrame, maxDf: Int) =
    Dedup.ngramJaccard(d, k = 4, maxDf = maxDf, minJac = 0.0).collect()
      .map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb")) ->
        (r.getAs[Long]("shared"), r.getAs[Long]("na"), r.getAs[Long]("nb"),
          r.getAs[Double]("jac"))).toMap

  test("ngramJaccard: a shingle repeated inside a document counts once") {
    // 1: abcd bcda cdab dabc abcd -> 4 distinct
    // 2: abcd bcdz cdza dzab zabc abcd -> 5 distinct; shared {abcd}
    val out = jaccardRows(docsOf(1L -> "abcdabcd", 2L -> "abcdzabcd"), 10)
    assert(out === Map((1L, 2L) -> ((1L, 4L, 5L, 0.125))))
  }

  test("ngramJaccard: df == maxDf is kept, df == maxDf + 1 is dropped " +
    "from shared and n") {
    // each doc has 6 distinct shingles; abcd is in 1, 2, 3 (df 3) and
    // mnop in 1, 2 (df 2); every other shingle is in one doc
    val d = docsOf(1L -> "abcd.mnop", 2L -> "abcd,mnop", 3L -> "abcd;wxyz")
    assert(jaccardRows(d, 3) === Map(
      (1L, 2L) -> ((2L, 6L, 6L, 0.2)),      // 2 / (6 + 6 - 2)
      (1L, 3L) -> ((1L, 6L, 6L, 0.0909)),   // 1 / 11
      (2L, 3L) -> ((1L, 6L, 6L, 0.0909))))
    // maxDf 2: abcd leaves every set, mnop stays
    assert(jaccardRows(d, 2) === Map(
      (1L, 2L) -> ((1L, 5L, 5L, 0.1111))))  // 1 / (5 + 5 - 1)
  }

  test("ngramJaccard: a document shorter than k, or whose shingles are " +
    "all frequent, is absent") {
    // 4 holds only abcd (df 4 > maxDf 3); 5 is shorter than k = 4
    val d = docsOf(1L -> "abcd.mnop", 2L -> "abcd,mnop", 3L -> "abcd;wxyz",
      4L -> "abcd", 5L -> "abc")
    // abcd dropped: 1 and 2 keep 5 shingles each, sharing mnop
    assert(jaccardRows(d, 3) === Map(
      (1L, 2L) -> ((1L, 5L, 5L, 0.1111))))
  }

  test("ngramJaccard and containmentPairs leave no cached blocks behind") {
    val d = Tables.load(spark, SfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    // compare ids, not counts: the ContextCleaner may unpersist an
    // earlier test's checkpoint meanwhile (once its RDD is collected)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.ngramJaccard(d, 16, 20, 0.2).collect()
    Dedup.containmentPairs(d, 16, 20, 0.8).collect()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("duplicatedSpans: shared passage found at exact offsets, df cap") {
    // docs 1 and 2 share one 26-char passage at different offsets;
    // doc 3 shares nothing. k=8 -> the span covers positions
    // [start, start+26-8] and spans report [start, start+26).
    val shared = "a shared verbatim passage!"
    val d = docsOf(
      1L -> s"XXXX${shared}YYYYYYYY",
      2L -> s"zzzzzzzzzz${shared}wwww",
      3L -> "totally unrelated body of text with no common run")
    val out = Dedup.duplicatedSpans(d, k = 8, maxDf = 50)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("n_shingles")))
      .sortBy(_._1)
    assert(out === Seq(
      (1L, 4L, (4 + shared.length).toLong, (shared.length - 7).toLong),
      (2L, 10L, (10 + shared.length).toLong, (shared.length - 7).toLong)))
    // a shingle above the occurrence cap is a stop-shingle: with the
    // cap below the shared passage's occurrence count nothing is found
    assert(Dedup.duplicatedSpans(d, k = 8, maxDf = 1).count() === 0)
  }

  test("minhashDelta: delta doc matches its index twin, unmatched -1") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val d = docsOf(
      7L -> base, // delta: near-identical to index doc 1
      17L -> "completely different new content with nothing shared at all!",
      1L -> base,
      2L -> "some other standing corpus document about other things here")
    val delta = d.filter(col("doc_id") % 10 === 7)
    val index = d.filter(col("doc_id") % 10 =!= 7)
    val out = Dedup.minhashDelta(delta, index, k = 8, numHashes = 64,
      bands = 16, minEst = 0.5)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("matched_id"),
        r.getAs[Boolean]("is_dup")))
      .sortBy(_._1)
    assert(out === Seq((7L, 1L, true), (17L, -1L, false)))
    // identical text -> estimated jaccard 1.0 on the matched row
    val est = Dedup.minhashDelta(delta, index, 8, 64, 16, 0.5)
      .filter(col("doc_id") === 7L).collect().head.getAs[Double]("est")
    assert(est === 1.0)
  }

  test("ivfTopKIndexed: persisted index returns identical results") {
    import spark.implicits._
    val dim = 8
    val vecs = (0L until 30L).map { i =>
      (i, (0 until dim).map(j =>
        ((i * 31 + j * 17) % 97).toDouble / 97.0 - 0.5).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") % 10 === 0)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("qid"), r.getAs[Long]("nid"),
        r.getAs[Int]("rank"), r.getAs[Double]("cos4"))
    val inline = Ann.ivfTopK(vecs, queries, k = 3, nlist = 4,
      nprobe = 2, iters = 1, dim = dim).collect().map(key).sorted
    val (cents, index) = Ann.coarseIndex(vecs, nlist = 4, iters = 1,
      dim = dim, table = "graft_ivf_spec", path = "/tmp/graft_ivf_spec")
    val indexed = Ann.ivfProbeScore(index, queries, cents, k = 3,
      nprobe = 2, dim = dim).collect().map(key).sorted
    assert(indexed === inline)
    assert(inline.nonEmpty)
  }

  test("coarseIndex: build parameters are part of the artifact key") {
    import spark.implicits._
    val dim = 8
    val vecs = (0L until 30L).map { i =>
      (i, (0 until dim).map(j =>
        ((i * 31 + j * 17) % 97).toDouble / 97.0 - 0.5).toSeq)
    }.toDF("vec_id", "embedding")
    // one session, one table name, two nlist values: each call must get
    // the quantizer it asked for, not whichever was built first
    def build(nlist: Int) = Ann.coarseIndex(vecs, nlist = nlist, iters = 1,
      dim = dim, table = "graft_coarse_key_spec",
      path = "/tmp/graft_coarse_key_spec")
    def cells(idx: org.apache.spark.sql.DataFrame) =
      idx.select("cluster").distinct().count()
    val (c4, idx4) = build(4)
    val (c8, idx8) = build(8)
    assert(c4.size === 4 && cells(idx4) === 4L)
    assert(c8.size === 8 && cells(idx8) === 8L)
    // the nlist=4 artifact is still served, unchanged
    val (again, _) = build(4)
    assert(again.map(_._1) === c4.map(_._1))
  }

  test("ivfPqTopK: sane ADC ranking; exact duplicate is its query's top-1") {
    import spark.implicits._
    val dim = 8
    // 40 deterministic vectors; vector 25 duplicates vector 0 (a query),
    // so PQ must rank it first for qid=0: identical vectors share a cell
    // and codes, giving the minimum possible ADC distance
    val vecs = (0L until 40L).map { i =>
      val src = if (i == 25L) 0L else i
      (i, (0 until dim).map(j =>
        ((src * 31 + j * 17) % 97).toDouble / 97.0 - 0.5).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") % 10 === 0)
    val out = Ann.ivfPqTopK(vecs, queries, k = 3, nlist = 4, nprobe = 2,
      coarseIters = 1, m = 4, ksub = 4, pqIters = 1, dim = dim).collect()
    assert(out.nonEmpty)
    // adist ascending within each query, non-negative
    out.groupBy(_.getAs[Long]("qid")).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getAs[Int]("rank"))
        .map(_.getAs[Double]("adist6"))
      assert(byRank.forall(_ >= 0.0))
      assert(byRank.sameElements(byRank.sorted))
    }
    val q0top = out.filter(r => r.getAs[Long]("qid") == 0L &&
      r.getAs[Int]("rank") == 1).head
    assert(q0top.getAs[Long]("nid") === 25L)
  }

  test("ivfPqTopKIndexed: persisted PQ index returns identical results") {
    import spark.implicits._
    val dim = 8
    val vecs = (0L until 40L).map { i =>
      (i, (0 until dim).map(j =>
        ((i * 31 + j * 17) % 97).toDouble / 97.0 - 0.5).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") % 10 === 0)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("qid"), r.getAs[Long]("nid"),
        r.getAs[Int]("rank"), r.getAs[Double]("adist6"))
    val inline = Ann.ivfPqTopK(vecs, queries, k = 3, nlist = 4,
      nprobe = 2, coarseIters = 1, m = 4, ksub = 4, pqIters = 1,
      dim = dim).collect().map(key).sorted
    val indexed = Ann.ivfPqTopKIndexed(vecs, queries, k = 3, nlist = 4,
      nprobe = 2, coarseIters = 1, m = 4, ksub = 4, pqIters = 1,
      table = "graft_pq_spec", path = "/tmp/graft_pq_spec", dim = dim)
      .collect().map(key).sorted
    assert(indexed === inline)
    assert(inline.nonEmpty)
    // serve-only second call (the session memo holds the build): same
    // results again, served from the persisted encoded index
    val served = Ann.ivfPqTopKIndexed(vecs, queries, k = 3, nlist = 4,
      nprobe = 2, coarseIters = 1, m = 4, ksub = 4, pqIters = 1,
      table = "graft_pq_spec", path = "/tmp/graft_pq_spec", dim = dim)
      .collect().map(key).sorted
    assert(served === inline)
  }

  test("AdcScore kernel == the r18 ADC expression grid, in-plan") {
    import spark.implicits._
    val m = 4; val ksub = 4; val dsub = 2
    val rnd = new scala.util.Random(7)
    val books: IndexedSeq[Seq[(Long, Array[Double])]] =
      (0 until m).map { _ =>
        (0 until ksub).filter(_ => rnd.nextInt(8) > 0).map(c =>
          (c.toLong, Array.fill(dsub)(rnd.nextDouble() * 2 - 1))).toSeq
      }
    val rows = (0 until 50).map { i =>
      val codes = (0 until m).map { s =>
        val present = books(s).map(_._1)
        present(rnd.nextInt(present.length))
      }
      val qr = Seq.fill(m * dsub)(rnd.nextDouble() * 2 - 1)
      (i.toLong, codes, qr)
    }.toDF("id", "codes", "qr")
    val both = rows.select(col("id"),
      round(graft.functions.AdcScore(col("codes"), col("qr"),
        books, ksub, dsub), 6).as("kernel"),
      round(DedupAnnSpec.adcTermsExpr(books, m, ksub, dsub), 6).as("grid"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.toString)
    }
  }

  test("semDedup: duplicate vector marked dup-of its lower-id twin") {
    import spark.implicits._
    val dim = 8
    // vector 25 duplicates vector 3: identical embeddings land in the
    // same cluster at cos 1.0, so 25 must be dup_of 3 and 3 kept
    val vecs = (0L until 40L).map { i =>
      val src = if (i == 25L) 3L else i
      (i, (0 until dim).map(j =>
        ((src * 31 + j * 17) % 97).toDouble / 97.0 - 0.5).toSeq)
    }.toDF("vec_id", "embedding")
    // minCos = 1.0: only the exact duplicate qualifies (the modular
    // test vectors put constant-shift pairs near cos ~0.996, which
    // rounds below 1.0)
    val (_, assigned) = Ann.ivfTrainAssign(vecs, nlist = 4, iters = 1,
      dim = dim)
    val out = Ann.semDedupOn(assigned.localCheckpoint(), minCos = 1.0,
      dim = dim).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("dup_of"), r.getAs[Boolean]("keep"))).toMap
    assert(out.size === 40)
    assert(out(25L) === (3L, false))
    assert(out(3L) === (-1L, true))
    // everything else is far apart at this threshold
    assert(out.count(!_._2._2) === 1)
  }

  test("wordCount: 0 for blank text, shingleHashes skips short docs") {
    import graft.functions.TextFunctions
    val counts = docsOf(1L -> "", 2L -> "   ", 3L -> "two words")
      .select(col("doc_id"), TextFunctions.wordCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts === Map(1L -> 0L, 2L -> 0L, 3L -> 2L))
    // docs shorter than k produce no shingles (naive form's length filter)
    val sh = Dedup.shingleHashes(docsOf(1L -> "abc", 2L -> "abcdefgh"),
      k = 5, mult = 31L, mod = 2147483647L)
    assert(sh.filter(col("doc_id") === 1L).count() === 0)
    assert(sh.filter(col("doc_id") === 2L).count() === 4)
  }

  test("rollingFingerprint: the one polynomial fold, by hand") {
    import graft.functions.TextFunctions.rollingFingerprint
    val fp = docsOf(1L -> "", 2L -> "a", 3L -> "ab")
      .select(col("doc_id"), rollingFingerprint(col("text")),
        rollingFingerprint(col("text"), 131L))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // "" folds nothing; "ab" = 97·31 + 98 and 97·131 + 98
    assert(fp === Map(1L -> (0L, 0L), 2L -> (97L, 97L),
      3L -> (3105L, 12805L)))
  }

  test("Bloom: bit 31 and the next word's bit 0, words and membership") {
    import spark.implicits._
    import graft.operators.Bloom
    // m = 64: key 1 lands on 32, 28, 34, 10 and key 2 on 63, 31, 19, 11,
    // so word 0 holds bits 10, 11, 19, 28, 31 and word 1 bits 0, 2, 31
    val words = Bloom.words(Seq(1L, 2L).toDF("k"), "k", 64L, Nil)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(words === Map(0 -> 2416446464L, 1 -> 2147483653L))
    // key 3 lands on 30, 34, 4, 12: bit 34 is set, bit 30 is not
    val filter = typedLit(Seq(words(0), words(1)))
    val member = Seq(1L, 2L, 3L).toDF("k")
      .select(col("k"), Bloom.mightContain(filter, col("k"), 64L))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(member === Map(1L -> true, 2L -> true, 3L -> false))
  }

  test("native ShingleHash equals the HOF slice-fold form bit-for-bit") {
    val docs = Tables.load(spark, SfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val (k, mult, mod) = (16, 131L, 1000000007L)
    val native = Dedup.shingleHashes(docs, k, mult, mod)
    // the pre-kernel HOF pipeline, verbatim: per-char split + ascii,
    // then an O(k) aggregate-slice fold per position
    val hof = docs
      .select(col("doc_id"), lower(col("text")).as("t"))
      .select(col("doc_id"),
        transform(filter(split(col("t"), ""), c => length(c) > lit(0)),
          c => ascii(c).cast("long")).as("codes"))
      .select(col("doc_id"),
        explode(when(size(col("codes")) >= k,
          transform(
            sequence(lit(1), size(col("codes")) - (k - 1)),
            i => aggregate(slice(col("codes"), i, lit(k)), lit(0L),
              (acc, c) => (acc * lit(mult) + c) % lit(mod))))).as("s"))
    assert(native.count() > 0)
    assert(native.exceptAll(hof).count() === 0)
    assert(hof.exceptAll(native).count() === 0)
  }

  test("minhashPairs: identical docs have estimate 1.0") {
    val d = docsOf(
      1L -> ("spark catalyst tungsten codegen shuffle partition " * 3),
      2L -> ("spark catalyst tungsten codegen shuffle partition " * 3),
      3L -> "orthogonal text payload about entirely unrelated matters here")
    val out = Dedup.minhashPairs(d, k = 8, numHashes = 64, bands = 16,
      minEst = 0.5).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Double]("est") === 1.0)
  }

  test("simhashPairs: identical docs at hamming 0") {
    val d = docsOf(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      3L -> "unrelated words entirely: zymurgy quixotic jabberwocky phlegm")
    val out = Dedup.simhashPairs(d, maxHamming = 0).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("hamming") === 0L)
  }

  test("dedup plans: no cartesian product") {
    val d = Tables.load(spark, SfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val plan = Dedup.ngramJaccard(d, 16, 20, 0.2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
  }

  test("MinHashPairEval kernel == HOF band-match + agreement, bit-equal") {
    val sigs = Tables.load(spark, SfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .limit(60)
      .select(col("doc_id"),
        graft.functions.MinHashSig(col("text"), 5, 64).as("sig"))
      .filter(col("sig").isNotNull)
    val pairs = sigs.as("x").crossJoin(sigs.as("y"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.sig").as("siga"), col("y.sig").as("sigb"))
    def bandHashesOf(sig: org.apache.spark.sql.Column) =
      array((0 until 16).map { bi =>
        aggregate(slice(sig, bi * 4 + 1, 4), lit(0L),
          (acc, m) => (acc * lit(33L) + m) % lit(2147483647L))
      }: _*)
    val hofFirst = array_position(
      zip_with(bandHashesOf(col("siga")), bandHashesOf(col("sigb")),
        (x, y) => x === y), true) - 1
    val hofEst = round(aggregate(
      zip_with(col("siga"), col("sigb"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / 64, 4)
    val diff = pairs
      .withColumn("pe", graft.functions.MinHashPairEval(
        col("siga"), col("sigb"), 64, 16))
      .filter(col("pe.first_band") =!= hofFirst ||
        col("pe.est") =!= hofEst)
    assert(diff.count() === 0)
  }

  test("pair pipelines: min-band filter, no dropDuplicates shuffle") {
    val d = Tables.load(spark, SfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    for (plan <- Seq(
        Dedup.minhashPairs(d, 5, 64, 16, 0.2)
          .queryExecution.executedPlan.toString,
        Dedup.simhashPairs(d, 6)
          .queryExecution.executedPlan.toString)) {
      // a (ida, idb)-keyed aggregate would be the old wide-row dedup
      // exchange; the min-band filter keeps pair dedup row-local
      assert(!plan.contains("HashAggregate(keys=[ida"))
      assert(!plan.contains("SortAggregate(keys=[ida"))
      assert(!plan.contains("CartesianProduct"))
    }
  }

  test("cosineTopK: nearest neighbor is the most aligned vector") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Ann.cosineTopK(vecs, vecs.filter(col("vec_id") === 0), k = 2,
      dim = 4)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("nid")).toSeq === Seq(1L, 2L))
  }

  test("CosineScores kernel == join-form flat-scalar scoring, bit-equal") {
    val e = Tables.load(spark, SfDir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val dim = 64
    val ei = (0 until dim).map(i =>
      col("embedding").getItem(i).cast("double"))
    val withNorm = e.select(col("vec_id"), array(ei: _*).as("ev"),
      sqrt(ei.map(x => x * x).foldLeft(lit(0.0))(_ + _)).as("nrm"))
    val q = withNorm.filter(col("vec_id") % 50 === 0)
    val qrows = q.collect().map(r =>
      (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))).toSeq
    val viaKernel = withNorm
      .select(col("vec_id").as("nid"), explode(
        graft.functions.CosineScores(col("vec_id"), col("ev"), col("nrm"),
          qrows, dim)).as("s"))
      .select(col("s.qid").as("qid"), col("nid"), col("s.cos4").as("cos4"))
    // the old formulation: broadcast join + flat-scalar dot chain
    val dot = (0 until dim).map(i =>
      col("qe").getItem(i) * col("ne").getItem(i))
      .foldLeft(lit(0.0))(_ + _)
    val viaJoin = withNorm
      .select(col("vec_id").as("nid"), col("ev").as("ne"),
        col("nrm").as("nn"))
      .join(broadcast(q.select(col("vec_id").as("qid"),
        col("ev").as("qe"), col("nrm").as("qn"))),
        col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(dot / greatest(col("qn") * col("nn"), lit(1e-12)), 4)
          .as("cos4"))
    assert(viaKernel.exceptAll(viaJoin).count() === 0)
    assert(viaJoin.exceptAll(viaKernel).count() === 0)
  }

  test("cosineTopK plan: MAP-ONLY scoring — no join, kernel + top-k agg") {
    val e = Tables.load(spark, SfDir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val plan = Ann.cosineTopK(e, e.filter(col("vec_id") % 50 === 0), 10)
      .queryExecution.executedPlan.toString
    // the query matrix lives inside the CosineScores kernel: scoring is
    // scan -> kernel explode -> partial top-k, with the ONLY exchange
    // being the per-query aggregate — no join of any kind
    assert(plan.contains("cosinescores"))
    assert(plan.contains("partial_topkagg"))
    assert(!plan.contains("Join"))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1)
  }

  test("ivfTopK: finds same top-1 as brute force for most queries") {
    val e = Tables.load(spark, SfDir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") % 50 === 0)
    val exact = graft.operators.Ann.cosineTopK(e, q, 1)
      .select(col("qid"), col("nid").as("exact_nid"))
    val ivf = graft.operators.Ann.ivfTopK(e, q, 1, nlist = 16, nprobe = 2,
      iters = 2).select(col("qid"), col("nid").as("ivf_nid"))
    val joined = exact.join(ivf, "qid")
    val agree = joined.filter(col("exact_nid") === col("ivf_nid")).count()
    val total = joined.count()
    assert(total > 0)
    assert(agree.toDouble / total >= 0.5) // recall@1 of a 2-probe IVF
  }

  test("cosineNearDupPairs: duplicate vectors pair at cos 1.0") {
    import spark.implicits._
    val vecs = Seq(
      1L -> Array.tabulate(64)(i => (i + 1).toFloat),
      2L -> Array.tabulate(64)(i => (i + 1).toFloat),      // dup of 1
      3L -> Array.tabulate(64)(i => if (i % 2 == 0) 1f else -1f))
      .toDF("vec_id", "embedding")
    val out = Ann.cosineNearDupPairs(vecs, planes = 8, dim = 64,
      minCos = 0.95).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("ida") === 1L)
    assert(out.head.getAs[Long]("idb") === 2L)
    assert(out.head.getAs[Double]("cos4") === 1.0)
  }

  test("bloom decontamination is exact and the filter actually prunes") {
    val d = graft.Tables.load(spark, SfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        col("source"))
    val corpus = d.filter(col("source") =!= "src0").select("doc_id", "text")
    val bench = d.filter(col("source") === "src0").select("doc_id", "text")
    val bloom = Dedup.decontaminateBloom(corpus, bench, 16, 0.2)
      .localCheckpoint()
    val exact = Dedup.decontaminate(corpus, bench, 16, 0.2)
    // exact columns agree with the broadcast-exact operator row by row
    val cols = Seq("doc_id", "n_shingles", "n_hits", "ratio", "flagged")
    assert(bloom.select(cols.map(col): _*).exceptAll(
      exact.select(cols.map(col): _*)).isEmpty)
    // no false negatives by construction: pass count >= hit count
    assert(bloom.filter(col("n_false_pos") < 0).isEmpty)
    // and the filter prunes: survivors are a strict subset of shingles
    val agg = bloom.agg(sum("n_bloom_pass").as("p"),
      sum("n_shingles").as("s")).head()
    assert(agg.getLong(0) < agg.getLong(1),
      "bloom pre-filter kept every shingle — no semi-join reduction")
  }

  test("triangle census: K4 + pendant path, counted once per triangle") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles, each vertex in 3) + path 4-5-6
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (6L, 5L), (2L, 1L) /* dup, reversed */)
      .toDF("a", "b")
    val out = graft.operators.Triangles.triangleStats(edges)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) === ((3L, 3L, 1.0)))
    assert(out(2L) === ((3L, 3L, 1.0)))
    assert(out(3L) === ((3L, 3L, 1.0)))
    assert(out(4L) === ((4L, 3L, 0.5))) // 3 of C(4,2)=6 wedges closed
    assert(out(5L) === ((2L, 0L, 0.0)))
    assert(out(6L) === ((1L, 0L, 0.0)))
    // global: sum of per-vertex counts = 3 x 4 triangles
    assert(out.values.map(_._2).sum === 12L)
  }

  test("JL projection: 16 dims per vector, unbiased norm in aggregate") {
    val out = graft.operators.Pca.randomProject(
      graft.Tables.load(spark, SfDir, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding")),
      "vec_id", 64, 16).localCheckpoint()
    val perVec = out.groupBy("vec_id")
      .agg(countDistinct("j").as("nj"), first("norm_ratio").as("r"))
    assert(perVec.filter(col("nj") =!= 16).isEmpty)
    // E[(Rx)·(Rx)] = ||x||^2 — the corpus mean distortion must sit
    // near 1 even though individual vectors scatter at k=16
    val mean = perVec.agg(avg("r")).head().getDouble(0)
    assert(mean > 0.8 && mean < 1.2, s"JL distortion mean $mean")
  }

  test("HLL union algebra: monotone vs both sides, bounded by the sum") {
    val u = graft.queries.RetrievalQueries.qHllUnion(spark, SfDir)
      .collect()
    assert(u.nonEmpty)
    u.foreach { r =>
      val (a, b, un) = (r.getAs[Double]("est_a"), r.getAs[Double]("est_b"),
        r.getAs[Double]("est_union"))
      // max-merge can only raise registers: union >= each side exactly
      assert(un >= a - 1e-9 && un >= b - 1e-9, s"union $un < side ($a, $b)")
      assert(un <= a + b + 1e-9, "union above inclusion-exclusion bound")
      assert(r.getAs[Long]("exact_union") > 0L)
    }
  }

  test("incremental IVF: delta vectors are served without retraining") {
    val out = graft.queries.AnnQueries.qAnnIvfDelta(spark, SfDir)
      .localCheckpoint()
    // every query gets a full top-k and the freshly-added slice is
    // actually reachable through the frozen quantizer's buckets
    assert(out.filter(col("rank") > 10).isEmpty)
    assert(out.filter(col("nid") % 10 === 6).count() > 0L,
      "no delta vector ever surfaced — the append path is dead")
    // queries come from the base slice only
    assert(out.filter(col("qid") % 10 === 6).isEmpty)
  }

  test("incremental IVF-PQ: delta codes are served without retraining") {
    val out = graft.queries.AnnQueries.qAnnPqDelta(spark, SfDir)
      .localCheckpoint()
    assert(out.filter(col("rank") > 10).isEmpty)
    assert(out.filter(col("nid") % 10 === 6).count() > 0L,
      "no delta vector surfaced through the frozen-codebook encode")
    assert(out.filter(col("qid") % 10 === 6).isEmpty)
  }

  test("autoCellTenths shrinks the cell as line density grows") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def layer(n: Int) = (1 to n).flatMap { lid =>
      Seq((lid.toLong, 1, (lid * 37L) % 1000, (lid * 73L) % 1000),
        (lid.toLong, 2, (lid * 41L) % 1000, (lid * 79L) % 1000))
    }.toDF("lid", "seq", "xi", "yi")
    val c1 = graft.operators.MatchLines.autoCellTenths(
      graft.operators.MatchLines.linesAgg(layer(500)))
    val c4 = graft.operators.MatchLines.autoCellTenths(
      graft.operators.MatchLines.linesAgg(layer(2000)))
    assert(c1 > c4)                      // denser layer -> smaller cells
    assert(math.abs(c1.toDouble / c4 - 2.0) < 0.35) // ~1/sqrt(4) = half
  }

  test("kmeansDescriptors: identical lines land in the same cluster") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // two tight families of lines (near origin / far away), 3 of each
    val verts = Seq(
      (1L, 1, 0L, 0L), (1L, 2, 100L, 0L),
      (2L, 1, 0L, 10L), (2L, 2, 100L, 10L),
      (3L, 1, 0L, 20L), (3L, 2, 100L, 20L),
      (4L, 1, 5000L, 5000L), (4L, 2, 5100L, 5000L),
      (5L, 1, 5000L, 5010L), (5L, 2, 5100L, 5010L),
      (6L, 1, 5000L, 5020L), (6L, 2, 5100L, 5020L))
      .toDF("lid", "seq", "xi", "yi")
    val lines = graft.operators.MatchLines.linesWithCells(verts, 30)
    val out = graft.operators.MatchLines
      .kmeansDescriptors(lines, k = 2, iters = 2)
      .collect().map(r => r.getAs[Long]("lid") -> r.getAs[Long]("cluster"))
      .toMap
    assert(out.size === 6)
    assert(Set(out(1L), out(2L), out(3L)).size === 1) // family 1 together
    assert(Set(out(4L), out(5L), out(6L)).size === 1) // family 2 together
    assert(out(1L) !== out(4L))                       // families apart
  }

  /** (id, e) rows of 1-wide vectors, for the hand-computed Lloyd rounds. */
  private def points(rows: (Long, Seq[Double])*) = {
    import spark.implicits._
    rows.toDF("id", "e")
  }

  private def bookOf(b: graft.operators.Lloyd.Book) =
    b.map { case (l, c) => (l, c.toSeq) }

  test("Lloyd: an equidistant point goes to the smaller label") {
    import graft.operators.Lloyd
    // seeds 1 -> [0], 2 -> [2]; point 3 at [1] has d2 = 1 to both
    val df = points(1L -> Seq(0.0), 2L -> Seq(2.0), 3L -> Seq(1.0))
    val seeds = Lloyd.smallestIds(df, "id", col("e"), 2)
    assert(bookOf(seeds) === Seq(1L -> Seq(0.0), 2L -> Seq(2.0)))
    val labels = df.select(col("id"), Lloyd.nearest(col("e"), seeds))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
    // one round: cluster 1 = {0, 1} -> 0.5, cluster 2 = {2} -> 2.0
    val books = Lloyd.train(df, col("e"), IndexedSeq(seeds), 1, 1)
    assert(books.map(bookOf) === Seq(Seq(1L -> Seq(0.5), 2L -> Seq(2.0))))
  }

  test("Lloyd: a duplicate seed empties and drops out after round 1") {
    import graft.operators.Lloyd
    // seeds 1 and 2 are both [0]: ids 1, 2 tie between them and go to
    // label 1, so label 2 has no member after round 1 and leaves the
    // book; cluster 3 = {4, 6} -> 5. Round 2 keeps the same partition.
    val df = points(1L -> Seq(0.0), 2L -> Seq(0.0), 3L -> Seq(4.0),
      4L -> Seq(6.0))
    val seeds = Lloyd.smallestIds(df, "id", col("e"), 3)
    assert(seeds.map(_._1) === Seq(1L, 2L, 3L))
    for (iters <- Seq(1, 2)) {
      val books = Lloyd.train(df, col("e"), IndexedSeq(seeds), 1, iters)
      assert(books.map(bookOf) === Seq(Seq(1L -> Seq(0.0), 3L -> Seq(5.0))),
        s"iters=$iters")
    }
  }

  test("Lloyd: iters = 0 returns the seeds unchanged") {
    import graft.operators.Lloyd
    val df = points(1L -> Seq(0.0), 2L -> Seq(2.0), 3L -> Seq(1.0))
    val seeds = IndexedSeq(Lloyd.smallestIds(df, "id", col("e"), 2))
    assert(Lloyd.train(df, col("e"), seeds, 1, 0) eq seeds)
  }

  test("Lloyd: with two books each book trains only on its own slice") {
    import graft.operators.Lloyd
    import spark.implicits._
    // e = [a, b]; book 0 codes a, book 1 codes b. Seeds are the two
    // smallest ids labelled by rank: book 0 = {0 -> [0], 1 -> [10]},
    // book 1 = {0 -> [10], 1 -> [0]}.
    val df = Seq(1L -> Seq(0.0, 10.0), 2L -> Seq(10.0, 0.0),
      3L -> Seq(1.0, 9.0), 4L -> Seq(9.0, 1.0)).toDF("id", "e")
    val rows = Lloyd.smallestIds(df, "id", col("e"), 2).map(_._2)
      .zipWithIndex
    val seeds = (0 until 2).map(s =>
      rows.map { case (v, j) => (j.toLong, Array(v(s))) })
    // a: {0, 1} -> code 0 = 0.5, {10, 9} -> code 1 = 9.5;
    // b: {10, 9} -> code 0 = 9.5, {0, 1} -> code 1 = 0.5
    val books = Lloyd.train(df, col("e"), seeds, 1, 1)
    assert(books.map(bookOf) === Seq(
      Seq(0L -> Seq(0.5), 1L -> Seq(9.5)),
      Seq(0L -> Seq(9.5), 1L -> Seq(0.5))))
    val codes = df.select(col("id"), Lloyd.encode(col("e"), books, 1))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes === Map(1L -> Seq(0L, 0L), 2L -> Seq(1L, 1L),
      3L -> Seq(0L, 0L), 4L -> Seq(1L, 1L)))
  }

  test("ivfTrainAssign, ivfPqTopK and kmeansDescriptors leave no cached " +
    "blocks behind") {
    import spark.implicits._
    val dim = 8
    val vecs = (0L until 40L).map { i =>
      (i, (0 until dim).map(j => ((i * 31 + j * 17) % 97).toDouble / 97.0
        - 0.5))
    }.toDF("vec_id", "embedding")
    val lines = graft.operators.MatchLines.linesWithCells(
      Seq((1L, 1, 0L, 0L), (1L, 2, 100L, 0L), (2L, 1, 0L, 10L),
        (2L, 2, 90L, 10L), (3L, 1, 5000L, 5000L), (3L, 2, 5100L, 5000L))
        .toDF("lid", "seq", "xi", "yi"), 30)
    // compare ids, not counts (see the ngramJaccard leak check)
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    Ann.ivfTrainAssign(vecs, nlist = 4, iters = 2, dim = dim)._2.collect()
    assert((persisted -- before).isEmpty, "ivfTrainAssign")
    Ann.ivfPqTopK(vecs, vecs.filter(col("vec_id") % 10 === 0), k = 3,
      nlist = 4, nprobe = 2, coarseIters = 1, m = 4, ksub = 4,
      pqIters = 2, dim = dim).collect()
    assert((persisted -- before).isEmpty, "ivfPqTopK")
    // kmeansDescriptors' result reads its descriptor checkpoint, which
    // lives as long as that DataFrame; nothing else may stay behind
    val km = graft.operators.MatchLines.kmeansDescriptors(lines, k = 2,
      iters = 2)
    km.collect()
    val read = km.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet
    assert(read.size === 1)
    assert((persisted -- before) === read, "kmeansDescriptors")
  }

  test("dedupClusters: transitive chain collapses to one canonical id") {
    import spark.implicits._
    val d = Seq(1L, 2L, 3L, 4L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("ida", "idb")
    val out = graft.operators.Dedup.dedupClusters(d, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
  }

  test("dedupClusters: iters bounds the hops — a 6-node path after two") {
    import spark.implicits._
    // path 1-2-3-4-5-6: after 2 hops a node's label is the minimum id
    // within 2 edges, max(1, v - 2) — not the full component's 1
    val d = (1L to 7L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = (1L to 5L).map(i => (i, i + 1)).toDF("ida", "idb")
    val out = Dedup.dedupClusters(d, pairs, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L,
      6L -> 4L, 7L -> 7L))
  }

  private def clusterMap(d: org.apache.spark.sql.DataFrame,
                         pairs: org.apache.spark.sql.DataFrame, iters: Int) =
    Dedup.dedupClusters(d, pairs, iters).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("dedupClusters: iters = 0 gives every doc itself") {
    import spark.implicits._
    val d = (1L to 5L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("ida", "idb")
    assert(clusterMap(d, pairs, 0) === (1L to 5L).map(i => i -> i).toMap)
  }

  test("dedupClusters: iters = 1 on the path 1-2-3-4 is one min step") {
    import spark.implicits._
    // one hop: a node's label is the min of itself and its neighbors
    val d = (1L to 4L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("ida", "idb")
    assert(clusterMap(d, pairs, 1) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("dedupClusters: duplicated pair rows and a hub give the distinct " +
    "form's answer") {
    import spark.implicits._
    // hub 5 joins 6, 7, 8; the path 1-2-3 hangs off 8; pair ids that are
    // not docs (9) drop out; every pair appears twice, once reversed
    val d = (1L to 8L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val distinct = Seq((5L, 6L), (5L, 7L), (5L, 8L), (3L, 8L), (2L, 3L),
      (1L, 2L), (7L, 9L))
    val dup = distinct ++ distinct.map(_.swap) ++ distinct.take(3)
    for (iters <- Seq(1, 2, 4)) {
      val want = clusterMap(d, distinct.toDF("ida", "idb"), iters)
      assert(clusterMap(d, dup.toDF("ida", "idb"), iters) === want,
        s"iters = $iters")
      assert(want.keySet === (1L to 8L).toSet)
    }
    // hand-computed: after 1 hop the hub's leaves see 5, and 8 sees 3;
    // after 4 hops 1 reaches 5 and 8, while 6 and 7 (5 edges from 1)
    // get 2; 4 is in no pair and keeps itself
    assert(clusterMap(d, dup.toDF("ida", "idb"), 1) === Map(1L -> 1L,
      2L -> 1L, 3L -> 2L, 4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 3L))
    assert(clusterMap(d, dup.toDF("ida", "idb"), 4) === Map(1L -> 1L,
      2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 1L, 6L -> 2L, 7L -> 2L, 8L -> 1L))
  }

  test("ConnectedComponents matches dedupClusters on real minhash pairs") {
    val d = graft.Tables.load(spark, SfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val pairs = Dedup.minhashPairs(d, 8, numHashes = 64, bands = 16,
      minEst = 0.2).select(col("ida"), col("idb")).localCheckpoint()
    val byStar = graft.operators.ConnectedComponents
      .components(d, pairs)
    val byProp = Dedup.dedupClusters(d, pairs)
    // the spec the shared oracle rests on: the ALGORITHM must not
    // change answers — full outer join finds any divergent row
    val diff = byStar.withColumnRenamed("canonical_id", "c1")
      .select(col("doc_id"), col("c1"))
      .join(byProp.select(col("doc_id"), col("canonical_id").as("c2")),
        Seq("doc_id"), "full")
      .filter(col("c1").isNull || col("c2").isNull ||
        col("c1") =!= col("c2"))
    assert(diff.count() === 0L)
  }

  test("componentsDelta lands exactly where a from-scratch build does") {
    val d = graft.Tables.load(spark, SfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val all = Dedup.minhashPairs(d, 8, numHashes = 64, bands = 16,
      minEst = 0.2).select(col("ida"), col("idb")).localCheckpoint()
    val basePairs =
      all.filter(col("ida") % 5 =!= 4 && col("idb") % 5 =!= 4)
    val deltaPairs =
      all.filter(col("ida") % 5 === 4 || col("idb") % 5 === 4)
    val baseAssign = graft.operators.ConnectedComponents
      .components(d.filter(col("doc_id") % 5 =!= 4), basePairs)
      .select(col("doc_id"), col("canonical_id"))
    val inc = graft.operators.ConnectedComponents
      .componentsDelta(d, baseAssign, deltaPairs)
    val scratch = graft.operators.ConnectedComponents.components(d, all)
    val diff = inc.select(col("doc_id"), col("canonical_id").as("c1"))
      .join(scratch.select(col("doc_id"), col("canonical_id").as("c2")),
        Seq("doc_id"), "full")
      .filter(col("c1").isNull || col("c2").isNull ||
        col("c1") =!= col("c2"))
    assert(diff.count() === 0L)
    // the delta actually merges something (base components re-wire)
    val merged = inc.join(baseAssign.select(col("doc_id"),
      col("canonical_id").as("c0")), Seq("doc_id"))
      .filter(col("c0") =!= col("canonical_id")).count()
    assert(merged > 0L, "delta batch merged nothing - scenario degenerate")
  }

  test("ConnectedComponents: 64-node path converges in log rounds") {
    import spark.implicits._
    // a path graph is min-label propagation's worst case (needs
    // diameter-many rounds = 63); large/small-star needs O(log n)
    val n = 64L
    val d = (1L to n).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("ida", "idb")
    val out = graft.operators.ConnectedComponents
      .components(d, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size === 64)
    assert(out.values.toSet === Set(1L)) // one component, canonical = 1
  }

  test("FastCDC chunking is shift-robust where fixed-width is not") {
    // the property the operator exists to prove: a prefix-shifted twin
    // keeps most content-defined chunk fingerprints (only the chunks
    // before the first boundary re-align) while fixed-width chunking
    // keeps NONE — every boundary shifts, the store re-ingests the
    // whole blob (fw_new_bytes == twin_bytes)
    val rows = graft.queries.DedupQueries
      .qDedupFastCdc(spark, SfDir).collect()
    assert(rows.nonEmpty)
    val cdcFrac = rows.map(_.getAs[Double]("cdc_frac")).sum / rows.length
    val fwFrac = rows.map(_.getAs[Double]("fw_frac")).sum / rows.length
    assert(cdcFrac > 0.7, s"cdc shared fraction $cdcFrac - not shift-robust")
    assert(fwFrac == 0.0, s"fixed-width shared fraction $fwFrac - " +
      "expected total loss under shift")
    rows.foreach { r =>
      assert(r.getAs[Long]("fw_new_bytes") == r.getAs[Long]("twin_bytes"))
      // a boundary-free short blob is one whole chunk: its shifted twin
      // legitimately shares nothing, so per-row the bound is <=
      assert(r.getAs[Long]("cdc_new_bytes") <= r.getAs[Long]("twin_bytes"))
      assert(r.getAs[Long]("n_cdc") >= 1L)
    }
    assert(rows.map(_.getAs[Long]("cdc_new_bytes")).sum <
      rows.map(_.getAs[Long]("twin_bytes")).sum / 2,
      "cdc re-stored more than half the shifted bytes")
  }

  test("FastCDC delta ingest dedupes most re-uploaded bytes against " +
    "the standing store") {
    val rows = graft.queries.DedupQueries
      .qDedupFastCdcDelta(spark, SfDir).collect()
    assert(rows.nonEmpty)
    val blobBytes = rows.map(_.getAs[Long]("blob_bytes")).sum
    val dedupBytes = rows.map(_.getAs[Long]("dedup_bytes")).sum
    assert(dedupBytes * 10 > blobBytes * 7,
      s"store absorbed ${blobBytes - dedupBytes} of $blobBytes bytes - " +
        "expected >70% dedup on shifted re-uploads")
    rows.foreach { r =>
      // accounting closes: every chunk is a store hit or new, and
      // distinct-new bytes can never exceed the non-dedup'd residue
      // (within-blob repeats of a new fp are stored once)
      assert(r.getAs[Long]("n_dedup") <= r.getAs[Long]("n_chunks"))
      assert(r.getAs[Long]("dedup_bytes") + r.getAs[Long]("new_bytes") <=
        r.getAs[Long]("blob_bytes"))
    }
  }
}

object DedupAnnSpec {

  /** The r18 ADC expression GRID over (codes, qr) — the parity oracle
    * for [[graft.functions.AdcScore]] (the kernel that replaced it in
    * `Ann.ivfPqScore`): dense zero-filled codebook literal,
    * subspace-major ascending term fold. The spec above asserts
    * kernel == grid bit-for-bit on random codes/residuals. */
  def adcTermsExpr(
      books: IndexedSeq[Seq[(Long, Array[Double])]],
      m: Int, ksub: Int, dsub: Int): Column = {
    val cbDense: Seq[Seq[Seq[Double]]] = (0 until m).map { s =>
      val mp = books(s).toMap
      (0 until ksub).map(j =>
        mp.getOrElse(j.toLong, new Array[Double](dsub)).toSeq)
    }
    val cbLit = typedLit(cbDense)
    val terms = (0 until m).flatMap { s =>
      val entry = element_at(element_at(cbLit, s + 1),
        col("codes").getItem(s).cast("int") + 1)
      (0 until dsub).map { i =>
        val d = col("qr").getItem(s * dsub + i) - element_at(entry, i + 1)
        d * d
      }
    }
    terms.foldLeft(lit(0.0))(_ + _)
  }
}
