package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventsStream

class StreamingSpec extends AnyFunSuite with SharedSpark {

  test("streaming hourly agg equals the batch plan") {
    val q = EventsStream.hourlyStream(spark, SfDir, "ev_hourly_test")
    try {
      q.processAllAvailable()
      val streamed = spark.table("ev_hourly_test")
        .select("event_type", "hour", "n_events", "sum_value")
      val batch = EventsStream.hourlyAgg(Tables.load(spark, SfDir, "events"))
        .select("event_type", "hour", "n_events", "sum_value")
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(streamed).count() === 0)
    } finally q.stop()
  }

  test("stream-static enrichment join equals the batch join") {
    val q = EventsStream.enrichStream(spark, SfDir, "ev_enrich_test")
    try {
      q.processAllAvailable()
      val streamed = spark.table("ev_enrich_test")
        .select("segment", "event_type", "n_events", "sum_value")
      val batch = EventsStream.enrichAgg(
          Tables.load(spark, SfDir, "events"),
          EventsStream.customerDim(spark, SfDir))
        .select("segment", "event_type", "n_events", "sum_value")
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(streamed).count() === 0)
    } finally q.stop()
  }

  test("stateful streaming sessionization matches the batch sessionizer") {
    import graft.streaming.SessionStream
    val q = SessionStream.run(spark, SfDir, "sess_test")
    try {
      q.processAllAvailable()
      // update mode re-emits per batch; keep the last row per user
      val streamed = spark.table("sess_test")
        .groupBy("user_id")
        .agg(max("n_sessions").as("n_sessions"), max("n_events").as("n_events"))
      val batch = graft.queries.EventQueries.qSessionize(spark, SfDir)
        .groupBy("user_id")
        .agg(max("sess_idx").as("n_sessions"),
          sum("n_events").as("n_events"))
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(streamed).count() === 0)
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch interval join") {
    val q = EventsStream.intervalJoinStream(spark, SfDir, "ivj_test")
    try {
      q.processAllAvailable()
      val streamed = spark.table("ivj_test")
        .select("user_id", "view_id", "click_id", "gap_us")
      val batch = graft.queries.EventQueries
        .qEventIntervalJoin(spark, SfDir)
        .select("user_id", "view_id", "click_id", "gap_us")
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(streamed).count() === 0)
    } finally q.stop()
  }

  test("left-outer stream-stream join: matches equal the batch join; " +
    "null rows emit exactly up to the watermark's outer-emission bound") {
    import org.apache.spark.sql.functions._
    val q = EventsStream.intervalJoinOuterStream(spark, SfDir, "ivjo_test")
    try {
      q.processAllAvailable()
      val streamed = spark.table("ivjo_test")
        .select("user_id", "view_id", "view_us", "click_id", "gap_us",
          "converted")
      val batch = graft.queries.EventQueries
        .qEventIntervalOuter(spark, SfDir)
      // matched rows are exactly the inner join — identical both modes
      val sm = streamed.filter(col("converted"))
      val bm = batch.filter(col("converted"))
      assert(sm.count() > 0)
      assert(sm.exceptAll(bm).count() === 0)
      assert(bm.exceptAll(sm).count() === 0)
      // the OUTER contract: a view's null row emits only once the
      // watermark (maxTs - 2h) passes view_ts + 30min — views newer
      // than that bound are still buffered when the file source runs
      // dry. Everything streamed must be in batch; every batch null
      // row OLD enough must have streamed.
      val sn = streamed.filter(!col("converted"))
      val bn = batch.filter(!col("converted"))
      assert(sn.exceptAll(bn).count() === 0)
      // the join's watermark is the MIN over both sides' watermark
      // nodes, and each node sees only its FILTERED stream — so the
      // emission bound derives from min(max view ts, max click ts),
      // not the global max event time (the last views of a finite
      // stream can never be evicted: the watermark cannot pass their
      // own timestamps). 1s slack absorbs ms truncation + strictness.
      val ev = graft.Tables.eventsUs(spark, SfDir)
      def maxOf(t: String) = ev.filter(col("event_type") === t)
        .agg(max("ts_us")).head().getLong(0)
      val wmUs = math.min(maxOf("view"), maxOf("click")) -
        2L * 3600 * 1000000L
      val bound = wmUs - 30L * 60 * 1000000L - 1000000L
      val mustHaveEmitted = bn.filter(col("view_us") < bound)
      assert(mustHaveEmitted.exceptAll(sn).count() === 0,
        "an old-enough unmatched view never emitted its null row")
      assert(sn.count() > 0, "no null rows emitted at all")
    } finally q.stop()
  }

  test("native MinHashSig equals the shuffle-based signature pipeline") {
    val docs = Tables.load(spark, SfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val native = docs.select(col("doc_id"),
      graft.functions.MinHashSig(col("text"), 5, 64).as("sig"))
      .filter(col("sig").isNotNull)
    val shuffle = StreamingSpec.minhashSignatures(docs, 5, 64)
    assert(native.count() > 0)
    assert(native.exceptAll(shuffle).count() === 0)
    assert(shuffle.exceptAll(native).count() === 0)
  }

  test("row-local minhash band keys equal the shuffle-based pipeline") {
    import graft.operators.Dedup
    val docs = Tables.load(spark, SfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val rowLocal = Dedup.minhashBandKeysRowLocal(docs, k = 5,
      numHashes = 64, bands = 16)
    val viaShuffle = {
      val sigs = StreamingSpec.minhashSignatures(docs, 5, 64)
      val bandHashes = array((0 until 16).map { bi =>
        aggregate(slice(col("sig"), bi * 4 + 1, 4), lit(0L),
          (acc, m) => (acc * lit(33L) + m) % lit(2147483647L))
      }: _*)
      sigs.select(col("doc_id"), posexplode(bandHashes).as(Seq("band", "bh")))
    }
    assert(rowLocal.count() > 0)
    assert(rowLocal.exceptAll(viaShuffle).count() === 0)
    assert(viaShuffle.exceptAll(rowLocal).count() === 0)
  }

  test("streaming near-dup candidates equal the batch band-bucket join") {
    import graft.streaming.NearDupStream
    val q = NearDupStream.nearDupStream(spark, SfDir, "neardup_test")
    try {
      q.processAllAvailable()
      // orientation of (anchor, doc) depends on arrival order; compare
      // unordered candidate PAIRS per bucket against the batch equi-join
      val streamed = spark.table("neardup_test")
        .select(col("band"), col("bh"),
          least(col("anchor_id"), col("doc_id")).as("ida"),
          greatest(col("anchor_id"), col("doc_id")).as("idb"))
      val keys = graft.operators.Dedup.minhashBandKeysRowLocal(
        Tables.load(spark, SfDir, "documents")
          .select(col("doc_id").cast("long").as("doc_id"), col("text")),
        k = 5, numHashes = 64, bands = 16)
      val a = keys.select(col("band"), col("bh"), col("doc_id").as("ida"))
      val b = keys.select(col("band"), col("bh"), col("doc_id").as("idb"))
      // batch: every unordered pair sharing a bucket, anchored anywhere
      val batch = a.join(b, Seq("band", "bh"))
        .filter(col("ida") < col("idb"))
      assert(streamed.count() > 0)
      // streamed pairs all tie back to a shared bucket...
      assert(streamed.exceptAll(batch).count() === 0)
      // ...and every bucket with >= 2 docs produced >= its size - 1 pairs:
      // the streamed pair count per bucket is exactly n - 1 (one anchor)
      val bucketSizes = keys.groupBy("band", "bh")
        .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
      val streamedCounts = streamed.groupBy("band", "bh")
        .agg(count(lit(1)).as("c"))
      val mismatched = bucketSizes.join(streamedCounts, Seq("band", "bh"),
          "left")
        .filter(coalesce(col("c"), lit(0L)) =!= col("n") - 1)
      assert(mismatched.count() === 0)
      // the deterministic batch twin (q_neardup_anchor's operator) hits
      // exactly the same buckets with the same per-bucket pair counts —
      // only anchor CHOICE (min id vs first arrival) may differ, so pair
      // sets can diverge in >= 3-member buckets but counts cannot
      val twin = graft.streaming.NearDupStream.candidatePairsBatch(
        Tables.load(spark, SfDir, "documents")
          .select(col("doc_id").cast("long").as("doc_id"), col("text")),
        k = 5, numHashes = 64, bands = 16)
        .groupBy("band", "bh").agg(count(lit(1)).as("tc"))
      val diverged = twin.join(streamedCounts, Seq("band", "bh"), "full")
        .filter(coalesce(col("tc"), lit(0L)) =!=
          coalesce(col("c"), lit(0L)))
      assert(diverged.count() === 0)
    } finally q.stop()
  }

  test("streaming dedup emits at most one row per key") {
    val q = EventsStream.dedupStream(spark, SfDir, "dedup_test")
    try {
      q.processAllAvailable()
      val out = spark.table("dedup_test")
      assert(out.count() > 0)
      val dups = out.groupBy("user_id", "event_type")
        .count().filter(col("count") > 1).count()
      assert(dups === 0)
    } finally q.stop()
  }

  test("streaming redelivery suppression matches the batch first-wins " +
    "dedup on keys and kept timestamps") {
    import graft.streaming.DedupStream
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val feed = graft.queries.EventQueries.redeliveredFeed(spark, SfDir)
    // originals vs redeliveries: the first delivery per key is the
    // original, everything else is a redelivery
    val orig = feed.groupBy("event_id").agg(min("ts_us").as("ts_us"))
    val re = feed.exceptAll(orig.select("event_id", "ts_us"))
    val dir = Files.createTempDirectory("graft_dedup_stream").toString
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      df.coalesce(1).write.parquet(s"$dir/stage_$name")
      val part = new java.io.File(s"$dir/stage_$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, Paths.get(s"$dir/in/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    try {
      Files.createDirectories(Paths.get(s"$dir/in"))
      // originals land first, redeliveries in a LATER file — with
      // maxFilesPerTrigger=1 the stream must suppress across batches,
      // not just within one group invocation
      stage(orig, "a_base")
      Thread.sleep(1100) // file-source orders by mtime
      stage(re, "b_redelivered")
      val src = spark.readStream
        .schema("event_id LONG, ts_us LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/in")
      val q = DedupStream.dedupStream(src, "dedup_redelivery_test")
      try {
        q.processAllAvailable()
        val streamed = spark.table("dedup_redelivery_test")
        val batch = graft.queries.EventQueries.qStreamDedup(spark, SfDir)
        // one emission per key, none suppressed that should have shipped
        assert(streamed.count() === batch.count())
        // kept timestamps agree key-for-key (counts are the documented
        // stream-mode caveat: Append cannot revise a shipped row)
        val s = streamed.select("event_id", "kept_ts_us")
        val b = batch.select("event_id", "kept_ts_us")
        assert(s.exceptAll(b).count() === 0)
        assert(b.exceptAll(s).count() === 0)
      } finally q.stop()
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("streaming HLL registers are batch-identical: the sketch merge " +
    "is order-free across micro-batches") {
    import graft.streaming.HllStream
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val ev = graft.Tables.eventsUs(spark, SfDir)
      .select(col("ts_us").cast("long").as("ts_us"),
        col("user_id").cast("long").as("user_id"))
    val mid = ev.agg(expr("percentile_approx(ts_us, 0.5)")).collect()
      .head.getLong(0)
    val dir = Files.createTempDirectory("graft_hll_stream").toString
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      df.coalesce(1).write.parquet(s"$dir/stage_$name")
      val part = new java.io.File(s"$dir/stage_$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, Paths.get(s"$dir/in/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    try {
      Files.createDirectories(Paths.get(s"$dir/in"))
      // carve the feed so most WINDOWS straddle neither file but the
      // middle ones do — the cross-batch register merge is exercised
      stage(ev.filter(col("ts_us") < mid), "a_early")
      Thread.sleep(1100)
      stage(ev.filter(col("ts_us") >= mid), "b_late")
      val src = spark.readStream
        .schema("ts_us LONG, user_id LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/in")
      val q = HllStream.hllStream(src, "hll_stream_test")
      try {
        q.processAllAvailable()
        // update mode re-emits a window as registers grow; the latest
        // emission per window is its final card
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("win").orderBy(col("n_events").desc)
        val streamed = spark.table("hll_stream_test")
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .drop("rn")
        val batch = graft.queries.EventQueries.qStreamHll(spark, SfDir)
        assert(streamed.count() === batch.count())
        assert(streamed.exceptAll(batch).count() === 0)
        assert(batch.exceptAll(streamed).count() === 0)
      } finally q.stop()
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("streaming CDC compaction matches the batch latest-by-key") {
    import graft.streaming.CdcStream
    val q = CdcStream.run(spark, SfDir, "cdc_test")
    try {
      q.processAllAvailable()
      // update mode re-emits a key when its survivor changes; the
      // newest emission per key is the final state
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "event_type")
        .orderBy(col("ts_us").desc, col("event_id").desc)
      val streamed = spark.table("cdc_test")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("user_id", "event_type", "ts_us", "event_id", "value", "k")
      val batch = graft.queries.EventQueries.qLatestByKey(spark, SfDir)
        .select("user_id", "event_type", "ts_us", "event_id", "value", "k")
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(streamed).count() === 0)
    } finally q.stop()
  }

  test("streaming as-of join matches the batch twin on watermark-ripe " +
    "clicks and never emits a row the batch twin lacks") {
    import graft.streaming.AsofStream
    val q = AsofStream.run(spark, SfDir, "asof_test")
    try {
      q.processAllAvailable()
      val cols = Seq("click_id", "user_id", "click_ts_us", "view_id",
        "view_ts_us", "lag_us")
      val streamed = spark.table("asof_test").select(cols.map(col): _*)
      val batch = graft.queries.EventQueries.qAsofJoin(spark, SfDir)
        .select(cols.map(col): _*)
      // every streamed match is exactly a batch match (exactly-once,
      // correct anchor)
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() === 0)
      // completeness up to the emission bound: the watermark is
      // max(view/click ts) - 2h (the filter precedes the watermark
      // node), and a click emits once the watermark passes it; 1s
      // slack absorbs ms truncation + strictness
      val ev = graft.Tables.eventsUs(spark, SfDir)
        .filter(col("event_type").isin("view", "click"))
      val wmUs = ev.agg(max("ts_us")).head().getLong(0) -
        2L * 3600 * 1000000L
      val mustHave = batch.filter(col("click_ts_us") < wmUs - 1000000L)
      assert(mustHave.count() > 0, "bound leaves nothing to check")
      assert(mustHave.exceptAll(streamed).count() === 0,
        "a watermark-ripe click never emitted its as-of match")
    } finally q.stop()
  }

  test("streaming rate limiter matches the batch token-bucket fold") {
    import graft.streaming.RateLimitStream
    val q = RateLimitStream.run(spark, SfDir, "rate_test")
    try {
      q.processAllAvailable()
      val streamed = spark.table("rate_test")
        .select("user_id", "event_id", "ts_us", "accepted", "tok_us")
      val batch = graft.queries.EventQueries.qRateLimit(spark, SfDir)
        .select("user_id", "event_id", "ts_us", "accepted", "tok_us")
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(streamed).count() === 0)
      // the limiter genuinely fires on this corpus
      assert(streamed.filter(!col("accepted")).count() > 0)
    } finally q.stop()
  }
}

object StreamingSpec {
  import org.apache.spark.sql.DataFrame

  /** Mersenne prime 2^31 - 1 of the minhash universal hashes. */
  private val P = 2147483647L

  /** Deterministic universal-hash coefficients (odd a, spread b) —
    * the constants functions.MinHashKernel replicates. */
  def coef(i: Int): (Long, Long) = {
    val a = ((i * 2654435761L + 1) % P) | 1L
    val b = (i * 40503L * 104729L + 12345L) % P
    (a, b)
  }

  /** MinHash signatures through a shuffle: one row per doc with
    * array<long> of numHashes minimums over its rolling-hash shingles
    * (one groupBy doc_id, the mins partial-aggregated). The oracle the
    * native MinHashSig kernel must equal bit for bit. */
  def minhashSignatures(docs: DataFrame, k: Int,
                        numHashes: Int): DataFrame = {
    val sh = graft.operators.Dedup.shingleHashes(docs, k, 31L, P)
      .withColumnRenamed("s", "hp")
    val mins = (0 until numHashes).map { i =>
      val (a, b) = coef(i)
      min((lit(a) * col("hp") + lit(b)) % lit(P)).as(s"m$i")
    }
    sh.groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }
}
