package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions for the round-10 additions whose §2 rows claim
  * row-local or broadcast-only shapes — the claims are cheap to break
  * silently (one stray repartition or a failed broadcast and the shape
  * is gone), so they're pinned like the earlier families' specs. */
class PlanShapeSpec extends AnyFunSuite with SharedSpark {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, SfDir)
      .queryExecution.executedPlan.toString

  test("row-local queries have no exchange at all") {
    // each §2 row claims scan -> map, no shuffle
    for (q <- Seq("q_jsonl_roundtrip", "q_csv_roundtrip",
        "q_snapshot_drift")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q claims row-local but:\n$p")
    }
    // r18: the text rows read through the module's spread docs() (the
    // unsplittable-input fix — one round-robin exchange of seed rows at
    // the single-row-group bench sfs, a no-op on many-file corpora);
    // still never a keyed shuffle
    for (q <- Seq("q_blocklist_filter", "q_gopher_rules")) {
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q claims row-local but:\n$p")
      assert("Exchange".r.findAllIn(p).size <= 1,
        s"$q grew more than the spread exchange:\n$p")
    }
  }

  test("broadcast-back queries shuffle only their tiny aggregate") {
    // mix_resample: ONE hash exchange (the lang-count aggregate); the
    // corpus re-scan joins against its broadcast result
    val p = plan("q_mix_resample")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"q_mix_resample shuffles more than the lang aggregate:\n$p")
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastHashJoin"),
      s"q_mix_resample lost its broadcast join-back:\n$p")
  }

  test("sharded quota sampling equals the single-level form exactly") {
    val a = graft.queries.CurationQueries.qSampleQuota(spark, SfDir)
    val b = graft.queries.CurationQueries.qSampleQuotaSharded(spark, SfDir)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "top-k of per-shard top-k's must be exact")
  }

  test("r17 additions: no cartesian/NLJ anywhere, LPM keeps its " +
    "broadcast, MMR's rerank adds no exchange beyond the shortlist") {
    // the shapes §2 rows 215-220 claim, pinned mechanically
    for (q <- Seq("q_mmr_rerank", "q_ip_lpm_enrich", "q_kn_bigram_lm",
        "q_suffix_dedup_apply", "q_read_geojson_kinds")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q went cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q degraded to NLJ:\n$p")
    }
    // LPM: the routing table must arrive broadcast — the probe side
    // is event-scale and a shuffled join would move it whole
    val lpm = plan("q_ip_lpm_enrich")
    assert(lpm.contains("BroadcastHashJoin"),
      s"q_ip_lpm_enrich lost its broadcast dimension:\n$lpm")
  }

  test("r18 additions: no cartesian/NLJ, delta serve keeps every join " +
    "keyed, indexed MMR adds no exchange class the inline row lacks") {
    for (q <- Seq("q_suffix_dedup_delta", "q_kn_trigram_lm",
        "q_mmr_rerank_indexed")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q went cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q degraded to NLJ:\n$p")
      assert(!p.contains("Exchange SinglePartition"),
        s"$q grew a single-partition exchange:\n$p")
    }
  }

  test("r18 bitext mining: every join keyed — no cartesian, no NLJ, " +
    "no single-partition exchange") {
    val p = plan("q_bitext_mine")
    assert(!p.contains("CartesianProduct"), s"bitext went cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"bitext degraded to NLJ:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"bitext grew a single-partition exchange:\n$p")
  }

  test("r18 FM locate: the interval join arrives as the bounded-side " +
    "broadcast range join, never a cartesian") {
    // the ≤ |patterns| rank intervals broadcast against the persisted
    // order — a BroadcastNestedLoopJoin with a 10-row build side IS
    // the designed shape (same as row 220's rollup); what must never
    // appear is an unbroadcast cartesian of corpus-scale inputs
    val p = plan("q_fm_locate")
    assert(!p.contains("CartesianProduct"),
      s"fm locate went cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"fm locate lost the broadcast on its interval side:\n$p")
  }

  test("r18 delta matcher is invariant to the delta batch's partition " +
    "layout") {
    // the windowKey leads and label joins must not leak physical
    // layout into matched spans — same batch through 1 partition and
    // through 7 must clean identically
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val base = Seq(
      (1L, "a shared long passage that the delta copies verbatim " +
        "with padding to be safely over fifty characters in length"),
      (2L, "unrelated second base document with its own words"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (10L, "head " + "a shared long passage that the delta copies " +
        "verbatim with padding to be safely over fifty" + " tail"),
      (11L, "wholly novel little document"))
      .toDF("doc_id", "text")
    val h = graft.operators.SuffixIndex.forCorpus(base, "planshape_r18")
    val t = graft.operators.SuffixIndex.deltaFor(h, 50L)
    val o1 = graft.operators.SuffixArray
      .applyDedupFrom(graft.operators.SuffixArray.deltaSpans(
        delta.coalesce(1), t))
    val o7 = graft.operators.SuffixArray
      .applyDedupFrom(graft.operators.SuffixArray.deltaSpans(
        delta.repartition(7, col("doc_id")), t))
    assert(o1.exceptAll(o7).isEmpty && o7.exceptAll(o1).isEmpty,
      "delta spans changed under a different input partition layout")
    assert(o1.filter(col("doc_id") === 10L)
      .collect()(0).getAs[Long]("n_rm") > 0L,
      "the planted copied span must match")
  }

  test("r17 additions are invariant to input partition layout") {
    import org.apache.spark.sql.functions._
    // the FM backward search collects occ probes per step and the MMR
    // greedy loop runs inside a HOF over a collected shortlist — both
    // would leak layout dependence through ties if any comparator were
    // incomplete; 1-vs-7-partition bit-equality pins them
    val d = graft.Tables.load(spark, SfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val pats = Seq((0L, "the "), (1L, "fast"), (2L, "zqxjvvqz"))
    val f1 = SuffixArraySpec.substringCount(d.coalesce(1), pats)
    val f7 = SuffixArraySpec.substringCount(d.repartition(7), pats)
    assert(f1.exceptAll(f7).isEmpty && f7.exceptAll(f1).isEmpty,
      "FM results moved with partition layout")
    val e = graft.Tables.load(spark, SfDir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000)
    val m1 = graft.operators.Ann.mmrRerank(e.coalesce(1), q, 20, 5, 0.7, 64)
    val m7 = graft.operators.Ann.mmrRerank(e.repartition(7), q, 20, 5, 0.7, 64)
    assert(m1.exceptAll(m7).isEmpty && m7.exceptAll(m1).isEmpty,
      "MMR selection moved with partition layout")
  }

  test("operators are invariant to input partition layout") {
    import org.apache.spark.sql.functions._
    // determinism must not lean on partition count or row order: the
    // same input in 1 partition and in 7 shuffled partitions must
    // produce identical results (heap aggs, argmins and window ties
    // are the usual leak points)
    val edges = graft.queries.DedupQueries
      .qMinhash(spark, SfDir)
      .select(col("ida").as("a"), col("idb").as("b"))
    val t1 = graft.operators.Triangles.triangleStats(edges.coalesce(1))
    val t7 = graft.operators.Triangles.triangleStats(edges.repartition(7))
    assert(t1.exceptAll(t7).isEmpty && t7.exceptAll(t1).isEmpty)
    val emb = graft.Tables.load(spark, SfDir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"), col("label"),
        col("embedding"))
    val a1 = graft.operators.LabelAudit.audit(emb.coalesce(1), 64)
    val a7 = graft.operators.LabelAudit.audit(emb.repartition(7), 64)
    assert(a1.exceptAll(a7).isEmpty && a7.exceptAll(a1).isEmpty)
  }

  test("lateness profile shuffles once per key family") {
    // one user_id window + one map-side-combined histogram aggregate
    val p = plan("q_lateness_profile")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"q_lateness_profile grew extra exchanges:\n$p")
  }

  test("r11 row-local claims: URL canonicalization has no exchange") {
    val p = plan("q_url_canonicalize")
    assert(!p.contains("Exchange"),
      s"q_url_canonicalize claims row-local but:\n$p")
  }

  test("r11 broadcast-back claims: temperature mixing shuffles only " +
    "its lang aggregate; VAD windows per clip only") {
    val pt = plan("q_mix_temperature")
    assert("Exchange hashpartitioning".r.findAllIn(pt).size <= 2,
      s"q_mix_temperature shuffles more than the lang aggregate:\n$pt")
    assert(pt.contains("BroadcastExchange") ||
      pt.contains("BroadcastHashJoin"),
      s"q_mix_temperature lost its broadcast join-back:\n$pt")
    // VAD: frame decode is row-local; the only exchanges are the
    // per-doc island window + segment aggregate family
    val pv = plan("q_audio_vad_segments")
    assert("Exchange hashpartitioning".r.findAllIn(pv).size <= 3,
      s"q_audio_vad_segments grew extra exchanges:\n$pv")
  }

  test("r11 partition-layout invariance: containment pairs and " +
    "attribution heaps") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.load(spark, SfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val c1 = graft.operators.Dedup
      .containmentPairs(docs.coalesce(1), 16, 20, 0.8)
    val c7 = graft.operators.Dedup
      .containmentPairs(docs.repartition(7), 16, 20, 0.8)
    assert(c1.exceptAll(c7).isEmpty && c7.exceptAll(c1).isEmpty,
      "containment pairs depend on partition layout")
    val a = graft.queries.EventQueries.qAttribution(spark, SfDir)
    val b = graft.queries.EventQueries.qAttribution(spark, SfDir)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "attribution heaps are not run-stable")
  }

  test("near-dup shingle operators: hash aggregates only, and no " +
    "(doc_id, s) exchange in decontamination") {
    // per-document shingle distinct is row-local and df is a windowed
    // count, so no object/sort-based aggregate (collect_set postings)
    // returns to these plans
    for (q <- Seq("q_dedup_ngram_jaccard", "q_dedup_containment",
        "q_decontaminate")) {
      val p = plan(q)
      assert(!p.contains("ObjectHashAggregate"), s"$q:\n$p")
      assert(!p.contains("SortAggregate"), s"$q:\n$p")
    }
    // decontamination shuffles per document, never per (doc, shingle)
    val pd = plan("q_decontaminate")
    val keyed = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(pd).map(_.group(1))
      .filter(k => k.contains("doc_id#") && "\\bs#".r.findFirstIn(k).nonEmpty)
      .toList
    assert(keyed.isEmpty, s"q_decontaminate shuffles on (doc_id, s):\n$pd")
  }

  test("rare-shingle overlap computes df over s once") {
    // every consumer of the df table reads it through one exchange above
    // the windows, so the final plan runs one Window and one s exchange
    // (the initial plan lists each consumer's copy; AQE reuses the
    // exchange above them); re-running the windows per consumer was most
    // of the operator
    for (q <- Seq("q_dedup_ngram_jaccard", "q_dedup_containment")) {
      val df = SparkEntry.queries(q)(spark, SfDir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert("Window \\[count\\(1\\) windowspecdefinition\\(s#".r
        .findAllIn(p).size === 1, s"$q computes df more than once:\n$p")
      assert("Exchange hashpartitioning\\(s#".r.findAllIn(p).size === 1,
        s"$q:\n$p")
    }
  }

  test("dedupClusters builds its hop table without an aggregate") {
    // the hop table is materialized by dedupClusters' eager checkpoint,
    // so its plan reaches the session's listeners, not the query's plan
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution
          .QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: org.apache.spark.sql.execution
          .QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries("q_dedup_clusters")(spark, SfDir)
      val deadline = System.nanoTime() + 30L * 1000000000L
      def hopPlans = plans.toArray.map(_.toString).filter(_.contains("dst#"))
      while (hopPlans.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(hopPlans.nonEmpty, "no hop-table checkpoint was observed")
      val srcDst = "HashAggregate\\(keys=\\[src#\\d+L?, dst#".r
      for (p <- hopPlans)
        assert(srcDst.findFirstIn(p).isEmpty,
          s"q_dedup_clusters aggregates on (src, dst):\n$p")
    } finally spark.listenerManager.unregister(listener)
  }

  test("r11b row-local claims: keyframes and shard rebalance rows " +
    "shuffle nothing but their 1-row marginals") {
    // video keyframes: decode + diff chain entirely inside the
    // per-clip iterator — NO exchange at all
    val pk = plan("q_video_keyframes")
    assert(!pk.contains("Exchange hashpartitioning"),
      s"q_video_keyframes claims row-local but:\n$pk")
    // shard rebalance: the only shuffle is the 1-row movement
    // marginal; assignments themselves are row-local array_max
    val ps = plan("q_shard_rebalance")
    assert("Exchange hashpartitioning".r.findAllIn(ps).size <= 1,
      s"q_shard_rebalance grew extra exchanges:\n$ps")
  }

  test("r11b sort-free percentile: the only Sort is over the bounded " +
    "histogram, never the corpus") {
    // the §2 row's whole claim: the rank window sorts the <=10002-row
    // histogram (child = the score Aggregate), not the scan
    val p = plan("q_quality_percentile")
    val sorts = "Sort \\[".r.findAllIn(p).size
    assert(sorts <= 1, s"q_quality_percentile sorts more than once:\n$p")
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastHashJoin"),
      s"q_quality_percentile lost its broadcast join-back:\n$p")
    // the window's input must be an aggregate (the histogram), which
    // caps its cardinality at the score domain
    assert("Window \\[".r.findAllIn(p).size <= 1,
      s"unexpected extra windows:\n$p")
  }

  test("r12 no forced broadcast on scale-proportional inputs") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, ResolvedHint}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    // the Dedup.scala rule, now enforced plan-wide: a broadcast HINT is
    // only legal over a provably-bounded frame — the fixed-cardinality
    // dimensions (nation=25, region=5 at ANY scale factor) or a global
    // (ungrouped, 1-row) aggregate. customer/part/supplier/orders/
    // lineitem/events/documents/embeddings grow with sf: a forced hint
    // there is honored regardless of runtime size and OOMs the driver
    // at the 100 TB design point, so their join strategy belongs to AQE.
    val bounded = Set("nation.parquet", "region.parquet")
    def leafTables(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Seq[String] =
      p.collectLeaves().flatMap {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.map(_.getName)
          case _ => Nil
        }
        case _ => Nil
      }
    val affected = Seq("q_top_revenue", "q3_shipping", "q5_local",
      "q9_profit", "q10_returns", "q7_volume", "q_rolling_revenue",
      "q_sales_cube", "q_item_cofreq", "q_sar_export", "q_cascade_delete",
      "q_data_contract", "q_html_links", "q_skew_report")
    for (q <- affected) {
      val analyzed = SparkEntry.queries(q)(spark, SfDir)
        .queryExecution.analyzed
      analyzed.foreach {
        case h: ResolvedHint if h.hints.strategy.isDefined =>
          val oneRowAgg = h.child.collectFirst {
            case a: Aggregate if a.groupingExpressions.isEmpty => a
          }.isDefined
          val leaves = leafTables(h.child)
          assert(oneRowAgg || leaves.forall(bounded.contains),
            s"$q forces a broadcast over scale-proportional " +
              s"input(s) ${leaves.mkString(", ")}")
        case _ =>
      }
    }
    // and dropping the hints must NOT change the sf-test plan: AQE /
    // size statistics still pick broadcast joins for the small dims
    val p = plan("q_top_revenue")
    assert(p.contains("BroadcastHashJoin"),
      s"q_top_revenue lost its size-based broadcast at test sf:\n$p")
  }

  test("r12 codecs are row-local; range shard sorts only the bounded " +
    "histogram") {
    // the codec paths are scan -> mapPartitions: a KEYED exchange is a
    // plan regression. r18: the single-row-group test corpus plans the
    // scan at parallelism 1, so Tables.spread round-robins the narrow
    // SEED rows once before the decode (guide rule for unsplittable
    // inputs; a no-op on many-file corpora) — at most that one
    // round-robin exchange, never a hash shuffle of decoded output
    for (q <- Seq("q_multimodal_pdf", "q_multimodal_pdf_xrefstream",
        "q_multimodal_pdf_incremental",
        "q_multimodal_h264_ac", "q_multimodal_h264_cbp")) {
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q claims row-local but:\n$p")
      assert("Exchange".r.findAllIn(p).size <= 1,
        s"$q grew more than the spread exchange:\n$p")
    }
    // range shard: the only Sort is the cumulative window over the
    // bounded key histogram — the corpus is never sorted; shuffles are
    // the histogram aggregate + the 16-row shard aggregate
    val p = plan("q_range_shard")
    assert("Sort \\[".r.findAllIn(p).size <= 1,
      s"q_range_shard sorts more than the histogram:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"q_range_shard grew extra corpus shuffles:\n$p")
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastHashJoin"),
      s"q_range_shard lost its broadcast join-back:\n$p")
  }

  test("r14 pair enumerators stay bucketed: no cartesian or " +
    "nested-loop join in cross-modal dedup or general clip rings") {
    // both rows claim "never all-pairs" — candidates exist only inside
    // (band, value) / grid-cell buckets, so ANY cartesian/NL join is a
    // plan regression that would explode at the first real corpus
    // r15 adds the arbitrary-polygon ring kernel on the same bucketed
    // pair enumerator — same "never all-pairs" contract, same pin
    for (q <- Seq("q_dedup_crossmodal", "q_clip_rings_general",
        "q_clip_rings_arbitrary")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q went all-pairs:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q grew a nested-loop join:\n$p")
    }
    // unigram encode: the word-piece artifact joins the exploded doc
    // words without a FORCED broadcast (word table is scale-
    // proportional; AQE decides) — no broadcast-exchange HINT survives
    // to the plan on the artifact side at test sf unless AQE chose it,
    // and the join key must be the word itself (one shuffle family)
    val pe = plan("q_unigram_encode")
    assert(!pe.contains("CartesianProduct") &&
      !pe.contains("BroadcastNestedLoopJoin"),
      s"q_unigram_encode join degenerated:\n$pe")
  }

  test("r11c ORC read-back prunes partitions and pushes the residual " +
    "filter into the reader") {
    val p = plan("q_orc_roundtrip")
    // lang is the partition column: the predicate must resolve at the
    // directory level, not as a post-scan Filter
    assert(p.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*lang".r.findFirstIn(p).isDefined,
      s"lang predicate not pruning partitions:\n$p")
    // n_chars rides into the ORC reader
    assert("PushedFilters: \\[[^\\]]*n_chars".r.findFirstIn(p).isDefined,
      s"n_chars predicate not pushed into the ORC scan:\n$p")
    // the whole read is map-only
    assert(!p.contains("Exchange hashpartitioning"),
      s"q_orc_roundtrip claims map-only but:\n$p")
  }

  test("r16 suffix array: no all-pairs, no single-partition global " +
    "window, and ranks independent of input partition layout") {
    // §2 row 213 claims: every step an equi-join or range-partitioned
    // sort — a CartesianProduct/NLJ or an Exchange SinglePartition
    // (the global-window rank() trap the build exists to avoid) is a
    // plan regression. Level tables sit behind localCheckpoint
    // barriers, so the visible plan covers the descent tail, the
    // refine joins, and the per-doc rollup — exactly where a
    // degenerate join or global window would appear.
    val p = plan("q_suffix_dedup")
    assert(!p.contains("CartesianProduct"), s"suffix dedup all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"suffix dedup nested-loop join:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"suffix dedup grew a single-partition exchange:\n$p")
    // the §2 determinism claim, tested directly: the same tiny corpus
    // through 1 partition and through 7 shuffled partitions must give
    // bit-equal (doc_id, pos, rn) — partition-offset stitching and
    // range boundaries must not leak into rank VALUES
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tiny = Seq((1L, "abracadabra alakazam"), (2L, "abracadabra!"),
      (3L, "cadabra abra"), (4L, "zzz")).toDF("doc_id", "text")
    val (o1, _) = graft.operators.SuffixArray.build(tiny.coalesce(1))
    val (o7, _) = graft.operators.SuffixArray.build(
      tiny.repartition(7, col("doc_id")))
    val s1 = o1.select("doc_id", "pos", "rn")
    val s7 = o7.select("doc_id", "pos", "rn")
    assert(s1.exceptAll(s7).isEmpty && s7.exceptAll(s1).isEmpty,
      "suffix ranks changed under a different input partition layout")
  }
}
