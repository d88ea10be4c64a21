package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by alternating LARGE-STAR / SMALL-STAR rounds
  * (Kiveris et al. 2014, "Connected Components in MapReduce and
  * Beyond" — public literature): the algorithm production graph
  * systems use where min-label propagation
  * ([[Dedup.dedupClusters]]) needs as many rounds as the component
  * DIAMETER, large/small-star needs O(log n) rounds on any shape —
  * the difference that matters when a boilerplate family chains into
  * a long path instead of a dense blob.
  *
  *  - large-star(u): every strictly-greater neighbor of u re-attaches
  *    to m(u) = min(Γ(u) ∪ {u});
  *  - small-star(u): every smaller-or-equal neighbor re-attaches to
  *    m(u).
  *
  * Each half-round is ONE aggregate (per-node min over the current
  * edge set) joined back over the edges — no driver-side graph state;
  * the edge set never grows beyond the input size (stars replace,
  * not add). On the shallow near-dup components both algorithms
  * converge to identical min-label components (spec-pinned), so the
  * query shares q_dedup_clusters' oracle.
  */
object ConnectedComponents {

  /** Star rounds until the edge set reaches a FIXED POINT — the
    * canonical-extraction step below ("after convergence every edge
    * points node -> component min") is only correct at a fixed point,
    * so convergence is ASSERTED, not assumed: a fixed round count
    * would silently emit wrong canonicals on a component whose
    * contracted graph needs one more round. Each round's output is
    * localCheckpointed and the edge set only shrinks (stars replace,
    * never add), so the per-round equality check (count + one-sided
    * set difference over the checkpointed frames) costs two small
    * jobs on a pair-table-sized input — nothing corpus-sized.
    * Kiveris et al. 2014 prove O(log n) rounds, so the cap is a
    * safety net, not a tuning knob.
    *
    * Star rounds never GROW the edge set, so a count change alone
    * proves non-convergence — the previous round's count is carried
    * forward and each round pays ONE count job; the exceptAll (the
    * expensive set-difference) only runs at count equality, where it
    * is the proof (equal sizes + one-sided emptiness = multiset
    * equality). */
  private def converge(e0: DataFrame, maxRounds: Int): DataFrame = {
    var e = e0
    var eCnt = -1L // e's count, computed lazily on first equality test
    var r = 0
    while (r < maxRounds) {
      val next = round(e)
      val nextCnt = next.count()
      if (eCnt < 0) eCnt = e.count()
      val stable = nextCnt == eCnt && next.exceptAll(e).isEmpty
      e = next
      eCnt = nextCnt
      r += 1
      if (stable) return e
    }
    throw new IllegalStateException(
      s"star contraction did not converge within $maxRounds rounds")
  }

  /** One large-star + small-star round over a symmetric edge set
    * (src, dst). Returns the rewritten (still symmetric-on-read)
    * edge set; self-loops are dropped. */
  private def round(edges: DataFrame): DataFrame = {
    // large-star: (v, m(u)) for v in Γ(u), v > u
    val sym = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
    val m = sym.groupBy("src")
      .agg(least(min("dst"), first("src")).as("m"))
    // NO distinct (r18 opt, guide §2.4): the large-star output is
    // bounded by |sym| = 2|e| either way, small-star's min aggregate
    // is insensitive to duplicates, and the round's FINAL distinct
    // collapses duplicated withM rows — same round output set, one
    // exchange less per round. Decided by interleaved in-session A/B
    // (q_dedup_cc shape at sf0.1: min 4.50 s with the distinct vs
    // 3.74 s without, 3/4 pairwise wins on a contended box).
    val ls = sym.join(m, Seq("src"))
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
    // small-star over the large-star output: u's smaller-or-equal
    // neighbors AND u itself all re-attach to m(u)
    val sym2 = ls.select(col("src"), col("dst"))
      .unionAll(ls.select(col("dst").as("src"), col("src").as("dst")))
    val m2 = sym2.groupBy("src")
      .agg(least(min("dst"), first("src")).as("m"))
    val withM = sym2.join(m2, Seq("src"))
    withM.filter(col("dst") <= col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .unionAll(withM.select(col("src"), col("m").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
      // lineage cut per round: converge's checks and the next round
      // all read this output. A LAZY checkpoint was A/B'd in r18 (it
      // merges the materialization into converge's count, one driver
      // round-trip less per round) and measured a TIE-to-slightly-worse
      // (cc_delta min 5.02 eager vs 5.41 lazy, 2/4) — the
      // ~50 ms/round saving is noise against the round's own work,
      // so the checkpoint stays EAGER.
      .localCheckpoint()
  }

  /** Incremental component update — the add-after-train contract
    * (Ann.ivfDeltaTopK's move) applied to the graph family: a 100 TB
    * dedup registry does not re-cluster the corpus when a crawl batch
    * lands; it CONTRACTS the new pairs through the existing assignment
    * (each endpoint replaced by its known canonical; endpoints outside
    * the base are new docs and stand for themselves), runs the star
    * rounds on that contracted graph only — edges ~ |delta pairs|,
    * never the corpus — and maps the base assignment through the
    * resulting merge table. Correct because a base canonical is the
    * MINIMUM of its base component, so the minimum over a merged set
    * of canonicals (plus new ids) is the global component minimum.
    * Spec-pinned equal to a from-scratch build over the union. */
  def componentsDelta(docs: DataFrame, baseAssign: DataFrame,
                      deltaPairs: DataFrame,
                      maxRounds: Int = 20): DataFrame = {
    val m = baseAssign.select(col("doc_id"), col("canonical_id"))
      .localCheckpoint() // contraction map, read 3x
    val e = deltaPairs
      .join(m.select(col("doc_id").as("ida"),
        col("canonical_id").as("ca")), Seq("ida"), "left")
      .join(m.select(col("doc_id").as("idb"),
        col("canonical_id").as("cb")), Seq("idb"), "left")
      .select(coalesce(col("ca"), col("ida")).as("src"),
        coalesce(col("cb"), col("idb")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .localCheckpoint()
    val conv = converge(e, maxRounds)
    val merge = conv
      .unionAll(conv.select(col("dst").as("src"), col("dst").as("dst")))
      .groupBy("src").agg(min("dst").as("new_canon"))
    docs.select(col("doc_id"))
      .join(m, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical_id"), col("doc_id")).as("c0"))
      .join(merge.select(col("src").as("c0"), col("new_canon")),
        Seq("c0"), "left")
      .select(col("doc_id"),
        coalesce(col("new_canon"), col("c0")).as("canonical_id"))
      .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
  }

  /** Canonical (minimum) member per node's component over a near-dup
    * pair table; docs in no pair are their own canonical — the same
    * output contract as [[Dedup.dedupClusters]]. */
  def components(docs: DataFrame, pairs: DataFrame,
                 maxRounds: Int = 20): DataFrame = {
    val e0 = pairs.select(col("ida").as("src"), col("idb").as("dst"))
      .localCheckpoint()
    val converged = converge(e0, maxRounds)
    // at the (asserted) fixed point every edge points node -> component min
    val canon = converged
      .unionAll(converged.select(col("dst").as("src"),
        col("dst").as("dst")))
      .groupBy("src").agg(min("dst").as("canonical_id"))
    docs.select(col("doc_id"))
      .join(canon.select(col("src").as("doc_id"), col("canonical_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical_id"), col("doc_id")).as("canonical_id"))
      .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
  }
}
