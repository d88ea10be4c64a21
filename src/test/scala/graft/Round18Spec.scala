package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ann

/** Round-18 operator specs: the indexed-MMR composition (greedy stage
  * vs an in-memory replay; the tenth-granular lambda guard) and the KN
  * trigram LM vs a from-scratch Scala replay of the same smoothing
  * arithmetic. */
class Round18Spec extends AnyFunSuite with SharedSpark {

  test("mmrRerankOn greedy == in-memory integer-space replay over a " +
    "hand-built shortlist") {
    import spark.implicits._
    // 6 corpus vectors in 64-dim (first 3 dims carry the structure);
    // two near-duplicates (1, 2) — MMR must not pick both early
    def v(xs: Double*): Seq[Double] =
      (xs ++ Seq.fill(64 - xs.length)(0.0))
    val corpus = Seq(
      (1L, v(1.0, 0.0, 0.0)), (2L, v(0.999, 0.01, 0.0)),
      (3L, v(0.7, 0.7, 0.0)), (4L, v(0.0, 1.0, 0.0)),
      (5L, v(0.5, 0.0, 0.8)), (6L, v(0.9, 0.3, 0.1)))
    val emb = corpus.toDF("vec_id", "embedding")
    val queries = Seq((100L, v(1.0, 0.1, 0.1))).toDF("vec_id", "embedding")
    val got = Ann.mmrRerank(emb, queries, shortlist = 6, k = 4,
      lambda = 0.7, dim = 64)
      .orderBy("sel_rank").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(4)))
    // replay: cos4 = round(dot/(|q||c|), 4); mmr5 integer space
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    def nrm(a: Seq[Double]) = math.sqrt(dot(a, a))
    val q = v(1.0, 0.1, 0.1)
    val en = corpus.map { case (id, e) =>
      id -> e.map(_ / math.max(nrm(e), 1e-12))
    }.toMap
    val cos4 = corpus.map { case (id, e) =>
      id -> BigDecimal(dot(q, e) / math.max(nrm(q) * nrm(e), 1e-12))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    var sel = List[Long]()
    val exp = (1 to 4).map { sr =>
      val best = corpus.map(_._1).filterNot(sel.contains).map { id =>
        val rel = 7L * math.round(cos4(id) * 10000.0)
        val red =
          if (sel.isEmpty) 0L
          else sel.map(s => math.round(dot(en(id), en(s)) * 10000.0)).max
        (id, rel - 3L * red)
      }.minBy { case (id, m) => (-m, id) }
      sel = sel :+ best._1
      (sr.toLong, best._1, best._2)
    }
    assert(got.toSeq === exp)
  }

  test("MmrSelect kernel == the nested-HOF greedy selection it replaced " +
    "(incl. sub-k shortlist exhaustion)") {
    import spark.implicits._
    val dim = 8
    val rnd = new scala.util.Random(7)
    // 5 query shortlists; qid 5 has only 2 candidates < k = 4, so the
    // exhaustion path (null elements past the shortlist) is exercised
    val rows = for {
      q <- 1 to 5
      r <- 1 to (if (q == 5) 2 else 10)
    } yield (q.toLong, r,
      (q * 100 + r).toLong,
      BigDecimal(rnd.nextDouble() * 2 - 1)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
      Seq.fill(dim)(rnd.nextDouble() * 2 - 1))
    val df = rows.toDF("qid", "rank", "nid", "cos4", "en")
      .groupBy("qid")
      .agg(array_sort(collect_list(struct(col("rank"), col("nid"),
        col("cos4"), col("en")))).as("arr"))
      .localCheckpoint()
    val (k, li, mi) = (4, 7, 3)
    def rowsOf(sel: org.apache.spark.sql.Column) = df
      .select(col("qid"), explode(sel).as("s"))
      .select(col("qid"), col("s.sr"), col("s.nid"), col("s.cos4"),
        col("s.mmr5"))
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getInt(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
      .sortBy(t => (t._1, t._2.getOrElse(99), t._3.getOrElse(-1L)))
    val viaKernel =
      rowsOf(graft.functions.MmrSelect(col("arr"), k, li, mi, dim))
    val viaHof = rowsOf(Round18Spec.mmrSelectHof(k, li, mi))
    assert(viaKernel.length === 5 * k)
    assert(viaKernel.toSeq === viaHof.toSeq)
  }

  test("mmrRerank refuses a lambda outside the tenth-granular integer " +
    "score space (ADVICE r17)") {
    import spark.implicits._
    val emb = Seq((1L, Seq.fill(64)(0.1))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Ann.mmrRerank(emb, emb, 1, 1, lambda = 0.65, dim = 64)
    }
    assert(e.getMessage.contains("multiple of 0.1"))
  }

  test("KN trigram LM == from-scratch Scala replay of the smoothing " +
    "arithmetic on a constructed corpus") {
    import spark.implicits._
    val docsSeq = Seq(
      (0L, "the cat sat on the mat"),
      (5L, "the cat ate the fish on the mat"),
      (10L, "a dog sat on a log near the mat"),
      (3L, "the cat sat on the mat again today"), // non-train, seen
      (7L, "quantum flux capacitors hum quietly at dawn"), // unseen
      (9L, "xy")) // < 3 words: must drop
    // write a tiny parquet dir shaped like the documents table (the
    // loader projects doc_id/text/lang/source)
    val dir = "/tmp/graft_r18_kn"
    docsSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("spec"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.qKnTrigramLm(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    // ---- replay ----
    def words(t: String) = t.toLowerCase.split(" ").filter(_.nonEmpty)
    def tris(t: String) = words(t).sliding(3).filter(_.length == 3)
      .map(a => (a(0), a(1), a(2))).toSeq
    val train = docsSeq.filter(_._1 % 5 == 0).flatMap(d => tris(d._2))
    val c3 = train.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val types = c3.keySet
    val c12 = types.toSeq.groupBy(t => (t._1, t._2)).view
      .mapValues(ts => ts.map(c3).sum).toMap
    val nf12 = types.toSeq.groupBy(t => (t._1, t._2)).view
      .mapValues(_.size.toLong).toMap
    val mid = types.map(t => (t._2, t._3))
    val nmid = types.toSeq.groupBy(t => (t._2, t._3)).view
      .mapValues(_.size.toLong).toMap
    val ntot2 = mid.toSeq.groupBy(_._1).view
      .mapValues(ms => ms.map(nmid).sum).toMap
    val nf2 = mid.toSeq.groupBy(_._1).view
      .mapValues(_.size.toLong).toMap
    val cont = mid.toSeq.groupBy(_._2).view
      .mapValues(_.size.toLong).toMap
    val b23 = mid.size.toLong
    def rnd(v: Double, s: Int) = BigDecimal(v)
      .setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    for ((id, t) <- docsSeq) {
      val ts = tris(t)
      if (ts.isEmpty) assert(!got.contains(id), s"doc $id must drop")
      else {
        var bitsSum = 0.0; var unseen = 0L
        for (tr @ (_, w2, w3) <- ts) {
          val c = c3.getOrElse(tr, 0L)
          if (c == 0) unseen += 1
          val pc = (cont.getOrElse(w3, 0L) + 1.0) / (b23 + 1000.0)
          val p2 =
            if (ntot2.getOrElse(w2, 0L) > 0)
              (math.max(nmid.getOrElse((w2, w3), 0L) - 0.75, 0.0)
                + 0.75 * nf2(w2) * pc) / ntot2(w2)
            else pc
          val p3 =
            if (c12.getOrElse((tr._1, w2), 0L) > 0)
              (math.max(c - 0.75, 0.0)
                + 0.75 * nf12((tr._1, w2)) * p2) / c12((tr._1, w2))
            else p2
          bitsSum += -(math.log(p3) / math.log(2.0))
        }
        val bits = rnd(bitsSum / ts.size, 2)
        val exp = (ts.size.toLong, unseen,
          rnd(unseen.toDouble / ts.size, 4), bits,
          rnd(math.pow(2.0, bits), 2))
        assert(got(id) === exp, s"doc $id")
      }
    }
    // the unseen doc really exercised the backoff chain
    assert(got(7L)._2 === got(7L)._1, "all trigrams of doc 7 unseen")
  }

  test("FmIndex.locate == brute-force occurrence scan (overlapping " +
    "occurrences, multi-doc, absent pattern)") {
    import spark.implicits._
    import graft.operators.{FmIndex, SuffixArray}
    val corpus = Seq((1L, "abracadabra"), (2L, "banana banana"),
      (3L, "aaaaaa"), (4L, "xyz"))
    val docs = corpus.toDF("doc_id", "text")
    // "aa" overlaps inside doc 3 (5 occurrences); "ana" overlaps in
    // "banana" (2 per word); "qq" locates nothing
    val pats = Seq((0L, "a"), (1L, "ana"), (2L, "aa"), (3L, "abra"),
      (4L, "qq"))
    val (ord0, _, base0) = SuffixArray.buildWithBase(docs)
    val ord = ord0.localCheckpoint()
    val got = FmIndex.locate(ord, FmIndex.buildTables(ord, base0), pats)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .toSet
    val exp = (for {
      (pid, p) <- pats
      (did, t) <- corpus
      i <- 0 to t.length - p.length
      if t.substring(i, i + p.length) == p
    } yield (pid, did, i.toLong)).toSet
    assert(got === exp)
    assert(exp.count(_._1 == 2L) === 5, "overlap fixture sane")
    assert(!exp.exists(_._1 == 4L), "absent fixture sane")
  }

  test("bitextMine margins == in-memory replay of the exact-integer " +
    "margin arithmetic (single-cluster config => exact kNN)") {
    import spark.implicits._
    def v(xs: Double*): Seq[Double] =
      (xs ++ Seq.fill(64 - xs.length)(0.0))
    // tgt 5 is a HUB: closer to src 0 than src 0's true partner tgt 1
    // (raw cosine 0.7035 vs 0.65) but equally close to src 2, so its
    // kNN density r(t5) ≈ 0.7035 while r(t1) ≈ 0.335 — the margin
    // subtracts the density and flips the pick to the partner
    val src = Seq((0L, v(1.0, 0.0, 0.0)), (2L, v(0.0, 1.0, 0.0)),
      (4L, v(0.0, 0.0, 1.0)))
    val tgt = Seq((1L, v(0.65, 0.02, 0.02).updated(10, 0.76)),
      (3L, v(0.05, 0.9, 0.05)), (5L, v(0.7, 0.7, 0.1)))
    val got = Ann.bitextMine(src.toDF("vec_id", "embedding"),
      tgt.toDF("vec_id", "embedding"), k = 2, nlistSrc = 1,
      nlistTgt = 1, nprobe = 1, iters = 1)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4)))).toMap
    // replay: nlist=1 => every pair is a candidate on both sides
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    def nrm(a: Seq[Double]) = math.sqrt(dot(a, a))
    def cos4(a: Seq[Double], b: Seq[Double]) =
      BigDecimal(dot(a, b) / math.max(nrm(a) * nrm(b), 1e-12))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pairs = for { (x, xe) <- src; (y, ye) <- tgt }
      yield ((x, y), cos4(xe, ye))
    val pm = pairs.toMap
    def knn(of: Long, side: Char): (Long, Long) = {
      val ns = pairs.collect {
        case ((x, y), c) if (if (side == 'x') x else y) == of =>
          (c, if (side == 'x') y else x)
      }.sortBy { case (c, id) => (-c, id) }.take(2)
      (ns.map(c => math.round(c._1 * 10000.0)).sum, ns.size.toLong)
    }
    def margin(x: Long, y: Long): Double = {
      val (rsx, kx) = knn(x, 'x'); val (rsy, ky) = knn(y, 'y')
      math.round(pm((x, y)) * 10000.0).toDouble -
        (rsx.toDouble / kx.toDouble + rsy.toDouble / ky.toDouble) / 2.0
    }
    val expFwd = src.map(_._1).map { x =>
      val best = tgt.map(_._1).map(y => (y, margin(x, y)))
        .minBy { case (y, m) => (-m, y) }
      x -> best
    }.toMap
    val expBwd = tgt.map(_._1).map { y =>
      y -> src.map(_._1).map(x => (x, margin(x, y)))
        .minBy { case (x, m) => (-m, x) }._1
    }.toMap
    for (x <- src.map(_._1)) {
      val (y, m) = expFwd(x)
      val (gy, gc, gm, gmu) = got(x)
      assert(gy === y, s"forward pick for $x")
      assert(gc === pm((x, y)), s"cos4 for ($x,$y)")
      assert(gm === m, s"margin for ($x,$y) must be bit-identical")
      assert(gmu === (expBwd(y) == x), s"mutual for ($x,$y)")
    }
    // the hub fixture really bites: some src's raw-cosine argmax is
    // the hub while its margin argmax is not
    val rawFwd = src.map(_._1).map { x =>
      x -> tgt.map(_._1).map(y => (y, pm((x, y))))
        .minBy { case (y, c) => (-c, y) }._1
    }.toMap
    assert(src.map(_._1).exists(x =>
      rawFwd(x) == 5L && expFwd(x)._1 != 5L),
      "margin must override a raw-cosine hub pick somewhere")
  }

  test("DP histogram release: noisy counts equal an independent Scala " +
    "replay of the seeded inverse-CDF Laplace draw; the true count is " +
    "never released") {
    val out = graft.queries.Analytics.qDpHistogram(spark, SfDir).collect()
    assert(out.nonEmpty)
    assert(!out.head.schema.fieldNames.contains("n"),
      "a DP release must not carry the true count")
    val rows = spark.read.parquet(s"$SfDir/customer.parquet")
      .select(col("c_nationkey").cast("long"), col("c_mktsegment"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val counts = rows.groupBy(identity).map { case (k, v) =>
      k -> v.length.toLong
    }
    for (r <- out) {
      val (nation, seg) = (r.getLong(0), r.getString(1))
      val n = counts((nation, seg))
      val x = nation * 1000L + seg.charAt(0).toLong * 10L + seg.length
      val u = ((x * 2654435761L + 97L) % 1000000007L).toDouble + 0.5
      val d = u / 1000000007.0 - 0.5
      val noise = -math.signum(d) * math.log(1.0 - 2.0 * math.abs(d))
      val exp = BigDecimal(n + noise)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(2) === exp, s"cell ($nation, $seg)")
      assert(r.getDouble(3) === 1.0)
    }
    assert(out.exists(r =>
      r.getDouble(2) != math.rint(r.getDouble(2))),
      "the mechanism must actually perturb some cell")
  }

  test("ER stop-gram probe cap: a clone family whose every gram " +
    "exceeds the cap resolves through the tail-block rescue") {
    import spark.implicits._
    // 40 records with IDENTICAL entity strings: every blocking gram
    // has df = 40 > ProbeDfCap, so pass 1 generates NO candidates for
    // them and the best1 left-anti routes the whole family to the
    // second-chance tail block (never a silent empty result). All 40
    // dirty twins sit at lev = 1 of every clone master; the (lev, jac
    // DESC, ckey) rule resolves each to the family's smallest ckey.
    val clones = (1 to 40).map(i =>
      (i.toLong, "Identical Clone Entity Name Body", "AUTOMOBILE", 7L))
    // distinct records resolve in pass 1 (their grams are rare)
    val normals = (101 to 110).map(i =>
      (i.toLong, s"Customer Unique Number 00$i Pad", "BUILDING", 3L))
    val customer = (clones ++ normals).toDF(
      "c_custkey", "c_name", "c_mktsegment", "c_nationkey")
    val out = graft.queries.Analytics.entityResolveFrom(customer)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(4)))).toMap
    assert(out.size === 50, "every record resolves exactly once")
    for (i <- 1 to 40) {
      val (mk, lev, hit) = out(i.toLong)
      assert(mk === 1L, s"clone $i resolves to the family min ckey")
      assert(lev === 1L, s"clone $i verified at lev 1")
      assert(hit === (i == 1), s"hit flag for clone $i")
    }
    for (i <- 101 to 110) {
      val (mk, lev, hit) = out(i.toLong)
      assert(mk === i.toLong && lev === 1L && hit,
        s"distinct record $i resolves to itself in pass 1")
    }
  }
}

object Round18Spec {

  /** The pre-r18 nested-HOF greedy MMR selection over a collected
    * shortlist array column named `arr` — the parity oracle for
    * [[graft.functions.MmrSelect]] (the spec above asserts the kernel
    * selects row-identically; the HOF form is CodegenFallback-
    * interpreted per element, which is why `Ann.mmrRerank` uses the
    * kernel). */
  def mmrSelectHof(k: Int, Li: Int, Mi: Int): Column = {
    val st = "struct<rank:int,nid:bigint,cos4:double,en:array<double>," +
      "mmr5:bigint,sr:int>"
    expr(
      s"""aggregate(sequence(1, $k),
         |  cast(array() as array<$st>),
         |  (acc, step) -> concat(acc, array(
         |    aggregate(
         |      transform(
         |        filter(arr, c -> NOT exists(acc, s -> s.nid = c.nid)),
         |        c -> named_struct(
         |          'rank', c.rank, 'nid', c.nid, 'cos4', c.cos4,
         |          'en', c.en,
         |          'mmr5', $Li * CAST(ROUND(c.cos4 * 10000.0, 0) AS BIGINT)
         |            - $Mi * (CASE
         |            WHEN size(acc) = 0 THEN CAST(0 AS BIGINT)
         |            ELSE aggregate(acc, CAST(-100000 AS BIGINT), (m, s) ->
         |              greatest(m, CAST(ROUND(aggregate(
         |                zip_with(c.en, s.en, (x, y) -> x * y),
         |                CAST(0.0 AS DOUBLE), (a2, v) -> a2 + v)
         |                * 10000.0, 0) AS BIGINT)))
         |            END),
         |          'sr', step)),
         |      cast(null as $st),
         |      (best, c) -> CASE WHEN best IS NULL OR c.mmr5 > best.mmr5
         |        OR (c.mmr5 = best.mmr5 AND c.nid < best.nid)
         |        THEN c ELSE best END))))""".stripMargin)
  }
}
