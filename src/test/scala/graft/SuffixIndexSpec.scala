package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{FmIndex, SuffixArray, SuffixIndex}

/** The build/serve split's contract (r18, VERDICT r17 item 1): serving
  * the suffix-array family from the persisted session artifact must be
  * ROW-IDENTICAL to the inline build — indexing never changes answers.
  * Each consumer (per-doc stats, the dedup apply step, FM substring
  * count) is compared artifact-vs-inline on the sf0.001 corpus or a
  * constructed one. */
class SuffixIndexSpec extends AnyFunSuite with SharedSpark {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("artifact-served per-doc suffix stats == inline build") {
    val d = Tables.load(spark, SfDir, "documents")
      .select("doc_id", "text")
    val served = graft.queries.TextQueries.qSuffixDedup(spark, SfDir)
    val (ord, levels) = SuffixArray.build(d)
    val inline = graft.queries.TextQueries.suffixDedupStats(
      d, ord, SuffixArray.adjacentLcp(ord, levels))
    assert(rows(served) === rows(inline))
  }

  test("artifact-served dedup APPLY == inline dedupSpans chain") {
    val d = Tables.load(spark, SfDir, "documents")
      .select("doc_id", "text")
    val served = graft.queries.TextQueries.qSuffixDedupApply(spark, SfDir)
    val inline = SuffixArray.applyDedup(d, 50L)
    assert(rows(served) === rows(inline))
  }

  test("artifact-served FM substring count == inline build, and the " +
    "second serve hits the memo (no rebuild)") {
    import spark.implicits._
    val docsSeq = Seq((1L, "banana band bandana"), (2L, "a banana fan"),
      (3L, "nabab banana"))
    val d = docsSeq.toDF("doc_id", "text")
    val pats = Seq((0L, "ana"), (1L, "ban"), (2L, "a"), (3L, "zz"),
      (4L, "banana"))
    val tag = "suffixindexspec_fm"
    val h = SuffixIndex.forCorpus(d, tag)
    val fm = SuffixIndex.fmFor(h)
    val served = FmIndex.serve(h.ord, fm, pats)
    val inline = SuffixArraySpec.substringCount(d, pats)
    assert(rows(served) === rows(inline))
    // memo: a second forCorpus must return the SAME parquet-backed
    // handle, not trigger a rebuild
    val h2 = SuffixIndex.forCorpus(d, tag)
    assert(h2 eq h)
    val served2 = FmIndex.serve(h2.ord, SuffixIndex.fmFor(h2), pats)
    assert(rows(served2) === rows(served))
  }

  test("delta-vs-index == full-rebuild ground truth: spans matched " +
    "through the label chain equal brute-force base containment") {
    import spark.implicits._
    // base corpus with enough length structure for real 50-windows
    val aTxt = ("alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi " +
      "chi psi omega 0123456789 abcdefghijklmnopqrstuvwxyz end-A")
    val bTxt = ("the standing corpus holds this exact benchmark " +
      "passage which must never leak into the training batch at all " +
      "costs; a second sentence pads it out to a useful length B")
    val baseSeq = Seq((1L, aTxt), (2L, bTxt))
    val base = baseSeq.toDF("doc_id", "text")
    // delta batch: the planted edge cases
    val deltaSeq = Seq(
      (11L, "XX" + aTxt.substring(20, 140) + "YYZZ"), // middle span
      (12L, aTxt.substring(0, 50) + " totally new tail here ok"),
      (13L, aTxt.substring(0, 49) + " never fifty shared chars xq"),
      (14L, bTxt), // full-doc copy
      (15L, "entirely novel content with no base overlap qq 123"),
      (16L, aTxt.substring(5, 60) + "g@p" + bTxt.substring(10, 66)),
      (17L, "tiny"))
    val delta = deltaSeq.toDF("doc_id", "text")
    val tag = "suffixindexspec_delta"
    val h = SuffixIndex.forCorpus(base, tag)
    val t = SuffixIndex.deltaFor(h, 50L)
    val got = SuffixArray
      .applyDedupFrom(SuffixArray.deltaSpans(delta, t))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    // ground truth = the from-scratch semantics: a position matches iff
    // its 50-char window occurs verbatim anywhere in base (string
    // containment — shares nothing with the rank-label machinery)
    for ((id, txt) <- deltaSeq) {
      val matched = (0 to txt.length - 50)
        .filter(p => baseSeq.exists(_._2.contains(txt.substring(p, p + 50))))
      val cov = matched.flatMap(p => p until p + 50).toSet
      val clean = txt.indices.filterNot(cov).map(txt.charAt).mkString
      val exp = (matched.size.toLong, cov.size.toLong,
        clean.length.toLong, clean)
      assert(got(id) === exp, s"delta doc $id")
    }
    // planted expectations hold (the fixture really exercises each path)
    assert(got(13L)._1 === 0L, "49-char copy must stay under threshold")
    assert(got(14L)._4 === "", "full-doc copy must clean to empty")
    assert(got(15L)._2 === 0L, "novel doc must lose nothing")
    assert(got(16L)._1 >= 2L, "two disjoint copied spans must both match")
  }
}
