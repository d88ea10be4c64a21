package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Lloyd k-means with a driver-sized model — the one trainer behind the
  * IVF coarse quantizer ([[Ann.ivfTrainAssign]]), the IVF-PQ codebooks
  * and match_lines' descriptor clustering
  * ([[MatchLines.kmeansDescriptors]]). The DuckDB oracles replay the same
  * policy with one CTE chain (`graft.queries.LloydSql`):
  *
  *  - seeds come from the caller: the k smallest ids, labelled by id
  *    (IVF, line k-means) or by seed rank (PQ);
  *  - assignment is the lexicographic (round(d2, 6), label) argmin —
  *    element 0 of the sorted [[graft.functions.IvfDistances]] table, a
  *    map-only projection with the model inside the expression (no
  *    crossJoin, no window);
  *  - recentering is one partial-aggregated mean per (book, label,
  *    element), collected to the driver: the model is
  *    O(books x k x width) doubles by construction (FAISS trains its
  *    quantizers centrally for the same reason);
  *  - a label that no row chose in a round drops out of its book.
  */
object Lloyd {

  /** One codebook: (label, centroid) pairs sorted by label. */
  type Book = Seq[(Long, Array[Double])]

  /** Label of the centroid of `book` nearest to `v`. */
  def nearest(v: Column, book: Book): Column =
    graft.functions.IvfDistances(v, book).getItem(0).getField("cluster")

  /** Labels of the `n` centroids of `book` nearest to `v`, nearest first
    * (the IVF probe set) — the head of the same sorted table. */
  def nearestN(v: Column, book: Book, n: Int): Column =
    slice(graft.functions.IvfDistances(v, book), 1, n).getField("cluster")

  /** Per-book labels of `vec`: book s codes the s-th `width`-wide slice
    * (one book codes the whole vector). */
  def encode(vec: Column, books: IndexedSeq[Book], width: Int): Column =
    array(books.indices.map(s =>
      nearest(subspace(vec, books.size, s, width), books(s))): _*)

  /** (id, vector) of the `k` smallest ids of `df` — the seed rows. */
  def smallestIds(df: DataFrame, id: String, vec: Column,
                  k: Int): Seq[(Long, Array[Double])] =
    df.orderBy(id).limit(k).select(col(id), vec).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq

  /** `body` over `df` cached for the seed collect and the Lloyd rounds;
    * the cache is released when `body` returns, so a returned lazy plan
    * re-derives its input instead of pinning it in a long session. */
  def cached[T](df: DataFrame)(body: DataFrame => T): T = {
    val c = df.persist(StorageLevel.MEMORY_AND_DISK)
    try body(c) finally c.unpersist(blocking = false)
  }

  /** `iters` Lloyd rounds of every book from its seeds: book s trains on
    * the s-th `width`-wide slice of `vec`. All books share one pass per
    * round — one explode of (book, label, slice) rows, one
    * partial-aggregated shuffle, one collect of the books x k x width
    * means. `iters = 0` returns the seeds. */
  def train(data: DataFrame, vec: Column, seeds: IndexedSeq[Book],
            width: Int, iters: Int): IndexedSeq[Book] = {
    val m = seeds.size
    var books = seeds
    for (_ <- 1 to iters) {
      val parts = (0 until m).map { s =>
        val sub = subspace(vec, m, s, width)
        struct(lit(s).as("s"), nearest(sub, books(s)).as("label"),
          sub.as("sub"))
      }
      val means = data.select(explode(array(parts: _*)).as("x"))
        .select(col("x.s").as("s"), col("x.label").as("label"),
          posexplode(col("x.sub")).as(Seq("idx", "v")))
        .groupBy("s", "label", "idx").agg(avg("v"))
        .collect()
      books = (0 until m).map { s =>
        means.filter(_.getInt(0) == s).groupBy(_.getLong(1)).map {
          case (label, rows) =>
            val ce = new Array[Double](width)
            rows.foreach(r => ce(r.getInt(2)) = r.getDouble(3))
            (label, ce)
        }.toSeq.sortBy(_._1)
      }
    }
    books
  }

  private def subspace(vec: Column, m: Int, s: Int, width: Int): Column =
    if (m == 1) vec else slice(vec, s * width + 1, width)
}
