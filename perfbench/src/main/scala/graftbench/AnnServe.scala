package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.IvfDistances
import graft.operators.Ann
import graft.sources.Bucketed

/** ann_serve: build a persisted IVF index, then serve a closed loop of
  * top-k requests (one client; it sends the next request when the last
  * answer is back). Per-request fixed cost dominates; the build is the
  * write beside these reads. */
final class AnnServe(ctx: Ctx) extends Workload {
  private val p = Manifest.params
  private def int(k: String): Int = p(k).toString.toDouble.toInt
  private val Dim = int("dim")
  private val NList = int("nlist")
  private val Iters = int("iters")
  private val K = int("k")
  private val NProbe = int("nprobe")
  private val Batch = int("batch")
  // untimed requests on the measured index before the timed loop: request
  // latency keeps falling for ~20 requests after the build (JIT), and the
  // timed window should sit on the flat part of that curve
  private val SettleSeconds = 8.0

  private val spark = ctx.spark
  private val schema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))
  private lazy val queries: Array[Row] =
    ctx.read(s"${Manifest.dir}/queries").select("vec_id", "embedding")
      .orderBy("vec_id").collect()

  private var cents: Seq[(Long, Array[Double])] = Nil
  private var index: DataFrame = _
  private var builds = 0
  private var requests = 0

  private def corpus(dir: String): DataFrame =
    ctx.read(s"$dir/corpus").select("vec_id", "embedding")

  /** Build an index over `dir` and make it the one requests read. */
  private def build(dir: String, traced: Boolean): Option[Double] = {
    val table = s"bench_idx_$builds"
    val path = s"${ctx.work}/index/$builds"
    Bucketed.cleanupOnExit(path)
    builds += 1
    val t0 = System.nanoTime()
    ctx.op("build")(ctx.tracer.unitOf("build", table, traced) {
      if (!traced) Ann.coarseIndex(corpus(dir), NList, Iters, Dim, table, path)
      else {
        // the steps of Ann.coarseIndex, each in its own span
        val (c, indexed) = ctx.span("operators.ivf_train_assign")(
          Ann.ivfTrainAssign(corpus(dir), NList, Iters, Dim))
        ctx.span("sources.bucketed_write") {
          Bucketed.writeBucketed(indexed, table, s"$path/index", "cluster", 8)
          spark.createDataFrame(c.map { case (l, e) => (l, e.toSeq) })
            .toDF("cluster", "ce").coalesce(1).write.mode("overwrite")
            .parquet(s"$path/centroids")
        }
        (c, Bucketed.readBucketed(spark, table))
      }
    }).map { case (c, idx) =>
      cents = c
      index = idx
      (System.nanoTime() - t0) / 1e9
    }
  }

  private def queryBatch(i: Int): DataFrame = {
    val from = (i * Batch) % (queries.length - Batch)
    spark.createDataFrame(queries.slice(from, from + Batch).toSeq.asJava,
      schema)
  }

  private def serve(q: DataFrame): Array[Row] =
    Ann.ivfProbeScore(index, q, cents, K, NProbe, Dim)
      .select("qid", "nid", "rank", "cos4").collect()

  /** One request: the client's query batch in, top-k rows back. */
  private def request(traced: Boolean): Option[Double] = {
    val i = requests
    requests += 1
    val t0 = System.nanoTime()
    ctx.op("request")(ctx.tracer.unitOf("request", s"req-$i", traced) {
      ctx.span("operators.ivf_probe") {
        val df = Ann.ivfProbeScore(index, queryBatch(i), cents, K, NProbe, Dim)
        val qe = df.queryExecution
        val tp = System.nanoTime()
        qe.executedPlan
        ctx.tracer.plan(System.nanoTime() - tp)
        ctx.tracer.rows(df.collect().length.toLong)
      }
    }).map(_ => (System.nanoTime() - t0) / 1e6)
  }

  def warmUp(): Unit = {
    queries
    build(Manifest.warmDir, traced = false)
    (1 to 5).foreach(_ => request(traced = false))
  }

  /** One timed index build (traced in a trace run), settle requests, then
    * the timed closed loop. */
  def measure(seconds: Double): Unit = {
    ctx.out("build_s") = build(Manifest.dir, ctx.traceRun).toSeq
    if (ctx.traceRun) ctx.op("functions.ivf_assign") {
      ctx.tracer.unitOf("assign", "assign", traced = true) {
        ctx.tracer.exec("functions.ivf_assign", corpus(Manifest.dir)
          .select(IvfDistances(transform(col("embedding"), _.cast("double")),
            cents).getItem(0).getField("cluster").as("cluster")))
      }
    }
    val ts = System.nanoTime()
    var settle = 0
    while ((System.nanoTime() - ts) / 1e9 < SettleSeconds) {
      request(traced = false)
      settle += 1
    }
    ctx.out("settle_requests") = settle
    val r = mutable.ArrayBuffer.empty[Double]
    val rt = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds ||
      (ctx.traceRun && i < 40)) {
      val tr = ctx.traceRun && Workload.tracedAt(i)
      request(tr).foreach(ms => (if (tr) rt else r) += ms)
      i += 1
    }
    ctx.out("req_ms") = r.toSeq
    ctx.out("req_traced_ms") = rt.toSeq
    ctx.out("batch") = Batch
  }

  /** Indexing must never change answers: sampled requests against the
    * inline (train-and-probe in one plan) IVF path. Traced runs also
    * measure recall@k against exact cosine top-k. */
  def checks(): Unit = {
    val q = (0 until 3).map(queryBatch).reduce(_ union _).localCheckpoint()
    def key(r: Row): (Long, Long, Int, Double) =
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))
    val served = serve(q).map(key).toSet
    ctx.check("served_matches_inline") {
      val inline = Ann.ivfTopK(corpus(Manifest.dir), q, K, NList, NProbe,
        Iters, Dim).select("qid", "nid", "rank", "cos4").collect().map(key)
        .toSet
      (served == inline && served.nonEmpty,
        s"served ${served.size} rows, inline ${inline.size}, " +
          s"differ ${(served diff inline).size + (inline diff served).size}")
    }
    if (ctx.traceRun) ctx.op("recall_at_k") {
      val exact = Ann.cosineTopK(corpus(Manifest.dir), q, K, Dim)
        .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      val got = served.map(t => (t._1, t._2))
      ctx.out("recall_at_k") =
        if (exact.isEmpty) 0.0 else (got intersect exact).size.toDouble / exact.size
    }
  }
}
