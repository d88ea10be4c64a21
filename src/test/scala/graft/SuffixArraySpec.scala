package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SuffixArray

/** Cross-checks the distributed suffix-array build (prefix doubling +
  * partition-offset global indexing) and the level-descent LCP against
  * an in-memory brute force: sort the actual suffix strings, measure
  * each adjacent lcp by direct comparison. Any mis-rank anywhere in
  * the doubling, any off-by-one in the offset stitching, and any
  * descent/refine defect shows up as a differing rn or lcp. */
class SuffixArraySpec extends AnyFunSuite with SharedSpark {

  private def df(docsSeq: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    docsSeq.toDF("doc_id", "text")
  }

  /** Brute force: (rn-indexed order, adjacent lcps) per the exact
    * definition the operator implements. */
  private def brute(docsSeq: Seq[(Long, String)])
      : (Seq[(Long, Long, Long)], Seq[(Long, Long, Long, Long, Long)]) = {
    val sufs = for {
      (id, t) <- docsSeq if t.nonEmpty
      p <- 0 until t.length
    } yield (t.substring(p), id, p.toLong)
    val sorted = sufs.sortBy { case (s, id, p) => (s, id, p) }
    val ord = sorted.zipWithIndex.map { case ((_, id, p), i) =>
      (id, p, i + 1L)
    }
    def lcpOf(a: String, b: String): Long = {
      var i = 0
      while (i < a.length && i < b.length && a(i) == b(i)) i += 1
      i.toLong
    }
    val pairs = sorted.zip(sorted.drop(1)).map {
      case ((sa, da, pa), (sb, db, pb)) => (da, pa, db, pb, lcpOf(sa, sb))
    }
    (ord, pairs)
  }

  private def check(docsSeq: Seq[(Long, String)]): Unit = {
    val (ord, levels) = SuffixArray.build(df(docsSeq))
    val gotOrd = ord.select("doc_id", "pos", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      .sortBy(t => (t._1, t._2))
    val (expOrd, expPairs) = brute(docsSeq)
    assert(gotOrd === expOrd.sortBy(t => (t._1, t._2)),
      s"suffix order differs for $docsSeq")
    val gotPairs = SuffixArray.adjacentLcp(ord, levels)
      .select("da", "pa", "db", "pb", "lcp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq.sortBy(t => (t._1, t._2, t._3, t._4))
    assert(gotPairs === expPairs.sortBy(t => (t._1, t._2, t._3, t._4)),
      s"adjacent lcps differ for $docsSeq")
  }

  test("banana: the classic single-doc suffix order and lcps") {
    check(Seq((7L, "banana")))
  }

  test("identical docs: every suffix duplicated, lcp = full tails") {
    check(Seq((1L, "abcabc"), (2L, "abcabc")))
  }

  test("shared long passage across docs, plus a disjoint doc") {
    check(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a quick brown fox jumps over fences daily"),
      (3L, "zzzz yyyy xxxx wwww")))
  }

  test("prefix-of-suffix truncation: shorter suffix sorts first") {
    // "ab" vs "abab...": exercises the -1 pad and the identical-tail
    // lcp cap (raw descent overshoots, min-remaining restores)
    check(Seq((1L, "ababababab"), (2L, "ab"), (3L, "abababab")))
  }

  test("long repeats spanning multiple doubling rounds") {
    val core = "0123456789abcdefghij" * 6 // 120 chars, > 64-wide level
    check(Seq((1L, "x" + core + "u"), (2L, "y" + core + "v"),
      (3L, core.take(37))))
  }

  test("pseudo-random small corpus matches brute force") {
    // deterministic LCG word soup over a tiny vocabulary — adjacent
    // suffixes get nontrivial shared prefixes at every length scale
    val words = Vector("tab", "table", "tables", "row", "rows", "scan",
      "scans", "a", "ab", "abc")
    var seed = 12345L
    def nxt(): Int = {
      seed = (seed * 6364136223846793005L + 1442695040888963407L)
      ((seed >>> 33) % words.length).toInt
    }
    val docsSeq = (0 until 12).map { i =>
      (i.toLong, (0 until 20).map(_ => words(nxt())).mkString(" "))
    }
    check(docsSeq)
  }

  test("binary-alphabet stress: 20 seeded corpora of a/b strings " +
    "match brute force under maximal tie pressure") {
    // a two-letter alphabet maximizes tie-group sizes and truncation
    // collisions — the exact paths where the Larsson–Sadakane
    // refinement arithmetic, the settled/active split, and the
    // descent's identical-tail cap could silently go wrong
    var seed = 987654321L
    def nxt(n: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % n) + n).toInt % n
    }
    for (trial <- 0 until 20) {
      val nDocs = 1 + nxt(5)
      val docsSeq = (0 until nDocs).map { i =>
        val len = nxt(25)
        (i.toLong + trial * 100L,
          (0 until len).map(_ => if (nxt(2) == 0) 'a' else 'b').mkString)
      }.filter(_._2.nonEmpty)
      if (docsSeq.nonEmpty) check(docsSeq)
    }
  }

  test("empty and single-char docs do not break the build") {
    // direct operator path: a doc with empty text contributes no
    // positions but must still appear in the query output with zeros
    import spark.implicits._
    val d = Seq((1L, ""), (2L, "q"), (3L, "qq")).toDF("doc_id", "text")
    val (ord, levels) = SuffixArray.build(d)
    assert(ord.count() === 3) // "q", "q"(of qq), "qq"
    val pairs = SuffixArray.adjacentLcp(ord, levels).collect()
    assert(pairs.length === 2)
    assert(pairs.map(_.getAs[Long]("lcp")).sorted.toSeq === Seq(1L, 1L))
  }

  test("applyDedup: keep-one semantics on a constructed corpus — the " +
    "min doc keeps the span, every other occurrence loses it") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog repeatedly!!" +
      "1234" // 60 chars
    assert(a.length === 60)
    val d = Seq(
      (1L, a),
      (2L, "short head. " + a + " short tail."),
      (3L, a)).toDF("doc_id", "text")
    val out = SuffixArray.applyDedup(d, 50L).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("clean_text") === a) // canonical kept
    assert(out(1L).getAs[Long]("rm_chars") === 0L)
    assert(out(2L).getAs[String]("clean_text") ===
      "short head.  short tail.") // span excised, head+tail glued
    assert(out(2L).getAs[Long]("rm_chars") === 60L)
    assert(out(3L).getAs[String]("clean_text") === "")
    assert(out(3L).getAs[Long]("rm_chars") === 60L)
  }

  test("applyDedup guarantee: cleaned SEGMENTS contain no cross-doc " +
    "repeat >= threshold (re-run the detector on the output)") {
    // the verdict-r16-item-3 'done' condition, pinned mechanically:
    // rebuild the suffix array over the kept segments (segment id =
    // doc_id * 2^20 + k so same-doc segments don't read as cross-doc)
    // and assert the detector finds nothing >= the threshold across
    // original docs. Segments, not the glued text: a cut can fabricate
    // a new adjacency, and the guarantee is about what was KEPT.
    val d = graft.Tables.load(spark, SfDir, "documents")
      .select(col("doc_id"), col("text"))
    val spans = SuffixArray.dedupSpans(d, 50L)
    val segs = spans
      .select(col("doc_id"), col("text"), col("sp"),
        explode(sequence(lit(0), size(col("sp")))).as("k"))
      .select((col("doc_id") * 1048576L + col("k")).as("doc_id"),
        expr("""substring(text,
          CAST((CASE WHEN k = 0 THEN 0
                ELSE element_at(sp, k).e END) + 1 AS INT),
          CAST((CASE WHEN k = size(sp) THEN length(text)
                ELSE element_at(sp, k + 1).s END)
            - (CASE WHEN k = 0 THEN 0
               ELSE element_at(sp, k).e END) AS INT))""").as("text"))
      .filter(length(col("text")) > 0)
    val (ord2, lv2) = SuffixArray.build(segs)
    val survivors = SuffixArray.adjacentLcp(ord2, lv2)
      .filter(col("lcp") >= 50L &&
        expr("da DIV 1048576") =!= expr("db DIV 1048576"))
      .count()
    assert(survivors === 0L,
      s"$survivors cross-doc repeats >= 50 survived the apply step")
  }

  test("FM-index backward search matches brute force: counts, doc " +
    "rollups and the exact rank interval, empty and full-doc patterns") {
    import spark.implicits._
    val docsSeq = Seq((1L, "banana"), (2L, "bandana"),
      (3L, "a banana fan"))
    val pats = Seq((0L, "ana"), (1L, "an"), (2L, "a"), (3L, "nd"),
      (4L, "banana"), (5L, "zzz"), (6L, "na"), (7L, "a b"))
    val got = SuffixArraySpec
      .substringCount(docsSeq.toDF("doc_id", "text"), pats)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val sufs = docsSeq.flatMap { case (id, t) =>
      (0 until t.length).map(p => (t.substring(p), id, p))
    }.sortBy(x => (x._1, x._2, x._3))
    for ((pid, p) <- pats) {
      val occ = sufs.count(_._1.startsWith(p)).toLong
      val nd = sufs.filter(_._1.startsWith(p)).map(_._2).distinct.size
      val lo = sufs.count(_._1 < p) + 1L
      val exp =
        if (occ == 0) (0L, 0L, 0L, -1L)
        else (occ, nd.toLong, lo, lo + occ - 1)
      assert(got(pid) === exp, s"pattern '$p'")
    }
  }

  test("non-ASCII corpora rank in exact UTF-8 byte order (é/ß/CJK) — " +
    "the r18 byte-level pack retires the r17 ASCII fail-fast") {
    // byte-level brute-force mirror of check(): positions, order and
    // lcps in UTF-8 BYTES (unsigned memcmp — the same order DuckDB's
    // string comparison uses). Mapping each byte to the char of its
    // unsigned value gives strings whose natural char order IS byte
    // order, so the existing compare logic applies unchanged.
    import spark.implicits._
    val docsSeq = Seq(
      (1L, "café crème déjà vu"),
      (2L, "straße größer weiß"),
      (3L, "数据引擎 数据处理 引擎"),
      (4L, "mixed ascii with café and 引擎 inline"),
      (5L, "plain ascii control row"))
    val (ord, levels) = SuffixArray.build(df(docsSeq))
    val sufs = for {
      (id, t) <- docsSeq
      bs = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      p <- bs.indices
    } yield (bs.drop(p).map(b => (b & 0xff).toChar).mkString, id, p.toLong)
    val sorted = sufs.sortBy { case (s, id, p) => (s, id, p) }
    val expOrd = sorted.zipWithIndex.map { case ((_, id, p), i) =>
      (id, p, i + 1L)
    }.sortBy(t => (t._1, t._2))
    val gotOrd = ord.select("doc_id", "pos", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      .sortBy(t => (t._1, t._2))
    assert(gotOrd === expOrd, "byte-order suffix ranks differ")
    def lcpOf(a: String, b: String): Long = {
      var i = 0
      while (i < a.length && i < b.length && a(i) == b(i)) i += 1
      i.toLong
    }
    val expPairs = sorted.zip(sorted.drop(1)).map {
      case ((sa, da, pa), (sb, db, pb)) => (da, pa, db, pb, lcpOf(sa, sb))
    }.sortBy(t => (t._1, t._2, t._3, t._4))
    val gotPairs = SuffixArray.adjacentLcp(ord, levels)
      .select("da", "pa", "db", "pb", "lcp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
      .sortBy(t => (t._1, t._2, t._3, t._4))
    assert(gotPairs === expPairs, "byte-level adjacent lcps differ")
  }

  test("embedded NUL fails LOUD (collides with the end-of-string pad)") {
    // the one packing contract left after the byte-level pack: a real
    // 0x00 byte is indistinguishable from the pad digit and would
    // silently mis-rank — positions() must raise instead (ADVICE r17)
    import spark.implicits._
    val d = Seq((1L, "plain text"), (2L, "bad\u0000embedded"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] { SuffixArray.build(d) }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(t =>
      String.valueOf(t.getMessage).contains("NUL")))
  }

  test("q_suffix_dedup runs on the sf0.001 corpus and the checksum " +
    "column pins a full permutation of positions") {
    val out = graft.queries.TextQueries.qSuffixDedup(spark, SfDir)
      .collect()
    assert(out.nonEmpty)
    // Σ n_pos = corpus chars; every doc got a row
    val docs = spark.read.parquet(s"$SfDir/documents.parquet")
    assert(out.length.toLong === docs.count())
    val totChars = docs.agg(sum(length(col("text")))).collect()(0).getLong(0)
    assert(out.map(_.getAs[Long]("n_pos")).sum === totChars)
    // Σ sa_ck = Σ rn·(pos+1) over all suffixes; rn is a permutation of
    // 1..N, so the total is invariant-checkable only loosely — instead
    // pin that the corpus's known near-dup strata produce long
    // cross-doc repeats (the planted near-identical docs)
    assert(out.map(_.getAs[Long]("max_lcp_xdoc")).max >= 100,
      "expected long cross-doc repeats from the near-dup strata")
  }
}

object SuffixArraySpec {

  /** Substring-count with an INLINE build — the specs' parity path for
    * the FM index. Patterns (pid, pat) against the corpus; returns
    * (pid, pat, n_occ, n_docs, sa_lo, sa_hi) — empty matches normalize
    * to (0, 0, 0, -1). The engine serves through SuffixIndex.fmFor +
    * FmIndex.serve. */
  def substringCount(docs: DataFrame,
                     patterns: Seq[(Long, String)]): DataFrame = {
    val (ord0, _, base0) = SuffixArray.buildWithBase(docs)
    val ord = ord0.localCheckpoint()
    graft.operators.FmIndex.serve(ord,
      graft.operators.FmIndex.buildTables(ord, base0), patterns)
  }
}
