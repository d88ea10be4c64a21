package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.{MinHashSig, ShingleHash, TextFunctions}
import graft.operators.Dedup

/** curate_batch: one LLM-curation pass over generated documents. Row-local
  * kernels (functions) run once each as their own step; the dedup
  * operators then run over the normalized corpus. */
final class CurateBatch(ctx: Ctx) extends BatchWorkload(ctx) {
  private val p = Manifest.params
  private def int(k: String): Int = p(k).toString.toDouble.toInt
  private def num(k: String): Double = p(k).toString.toDouble
  private val K = int("shingle_k")
  // minhash shape of the engine's own q_dedup_minhash: 64 hashes, 16 bands
  private val Hashes = 64
  private val Bands = 16
  private val MinEst = 0.2

  private def normalized(dir: String, table: String): DataFrame =
    ctx.read(s"$dir/$table").select(col("doc_id"),
      TextFunctions.norm(col("text")).as("text"),
      TextFunctions.wordCount(col("text")).as("words"))

  private def pairsOf(docs: DataFrame): DataFrame =
    Dedup.minhashPairs(docs, K, Hashes, Bands, MinEst)

  def pass(dir: String): Unit = {
    val docs = ctx.keep("functions.text_norm", normalized(dir, "documents"))
    val bench = ctx.keep("functions.text_norm", normalized(dir, "bench"))
    ctx.exec("functions.shingle_hash", docs.select(
      size(ShingleHash(col("text"), K, 131L, 1000000007L)).as("n")))
    ctx.exec("functions.minhash_sig",
      docs.select(MinHashSig(col("text"), K, Hashes).as("sig")))
    val pairs = ctx.keep("operators.minhash_pairs", pairsOf(docs))
    ctx.exec("operators.ngram_jaccard", Dedup.ngramJaccard(docs, K,
      int("max_df"), num("min_jaccard")))
    ctx.exec("operators.dedup_clusters", Dedup.dedupClusters(docs, pairs))
    ctx.exec("operators.decontaminate",
      Dedup.decontaminate(docs, bench, K, num("flag_at")))
  }

  def checks(): Unit = {
    val dir = Manifest.dir
    // the engine's registry query over a testdata-schema documents.parquet,
    // replayed by run.py in DuckDB with the registry's own oracle SQL
    ctx.op("check_write.dedup_minhash") {
      SparkEntry.queries("q_dedup_minhash")(ctx.spark, s"$dir/check")
        .write.mode("overwrite").parquet(s"${ctx.work}/checks/dedup_minhash")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"${ctx.work}/checks/dedup_minhash.sql"),
        SparkEntry.oracleSql("q_dedup_minhash"))
    }
    // the outputs and the planted truth are small: collect them and check
    // them in memory (no new join plans to compile outside the timed region)
    val planted = ctx.read(s"$dir/planted").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("src_id"),
        r.getAs[String]("kind")))
    val docs = normalized(dir, "documents")
    val pairsDf = pairsOf(docs).localCheckpoint()
    val pairs = pairsDf.select("ida", "idb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def found(kind: String): (Int, Int) = {
      val ps = planted.filter(_._3 == kind)
      (ps.length, ps.count { case (a, b, _) =>
        pairs((math.min(a, b), math.max(a, b))) })
    }
    val (nExact, hitExact) = found("exact")
    val (nNear, hitNear) = found("near")
    ctx.out("dup_recall") =
      if (nExact + nNear == 0) 1.0
      else (hitExact + hitNear).toDouble / (nExact + nNear)
    val nearRecall = if (nNear == 0) 1.0 else hitNear.toDouble / nNear
    ctx.check("near_dup_recall")(
      (nearRecall >= num("near_dup_recall_floor"),
        s"recall $nearRecall of $nNear planted near duplicates"))

    // every planted exact duplicate lands in its source's cluster
    ctx.check("exact_dups_clustered") {
      val canon = Dedup.dedupClusters(docs, pairsDf)
        .select("doc_id", "canonical_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val bad = planted.count { case (d, src, kind) =>
        kind == "exact" && canon.get(d) != canon.get(src) }
      (bad == 0, s"$bad of $nExact planted exact duplicates outside " +
        "their source's cluster")
    }

    ctx.check("contaminated_flagged") {
      val flagged = Dedup.decontaminate(docs, normalized(dir, "bench"), K,
        num("flag_at")).filter(col("flagged")).select("doc_id").collect()
        .map(_.getLong(0)).toSet
      val contaminated = planted.filter(_._3 == "contaminated").map(_._1)
      val rec = if (contaminated.isEmpty) 1.0
        else contaminated.count(flagged).toDouble / contaminated.length
      (rec >= num("contam_recall_floor"),
        s"flagged $rec of ${contaminated.length} contaminated documents")
    }
  }
}
