package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Greedy byte-pair-encoding training with a driver-sized model — the one
  * merge chain behind q_bpe_train, q_bpe_train_deep, q_bpe_fertility,
  * q_bpe_fertility_lang, q_unigram_fertility's BPE row and q_bpe_encode.
  * The DuckDB oracles replay it with one CTE chain
  * (`graft.queries.BpeSql`). Round r:
  *
  *  - counts the adjacent code-unit pairs of the current corpus as ONE
  *    single-stage job: each partition folds its rows through the native
  *    ShingleHash kernel into a count map bounded by |alphabet + vocab|²,
  *    and the driver merges the maps (a groupBy would plan two stages
  *    plus an AQE barrier per round);
  *  - takes the argmax merge, count desc then pair asc: with mult = 2^16
  *    and mod = 2^32 the k=2 rolling hash IS the pair key (c1 << 16 | c2),
  *    and its numeric order equals the oracle's string order (UTF-8 byte
  *    order preserves code-point order);
  *  - replaces the pair corpus-wide by placeholder `base + r` with a
  *    literal, non-regex replace — greedy left-to-right, non-overlapping,
  *    the semantics both engines share. Placeholders must be caseless,
  *    because the kernel lowercases: chr(1)..chr(5) sit below every
  *    corpus char, and the deep chain's chr(0x250 + r) is the IPA block
  *    (Latin Extended-A alternates case, so chr(0x102) would be counted
  *    as its twin chr(0x103), a pair the replace never removes).
  *
  * Each round's corpus is a lazy localCheckpoint that materializes inside
  * that round's count job, so a round costs one job and applies one
  * replace — never a re-applied O(R²) replace stack — and the previous
  * round's checkpoint is released once it has. Training is sequential in
  * the merge chain: R bounded-size barriers is its honest cost.
  */
object Bpe {

  /** Merge r: the pair `a b` becomes placeholder `sym`. */
  final case class Merge(a: Char, b: Char, sym: Char) {
    def pair: String = s"$a$b"
  }

  /** One round: the pair-count table of the corpus it read ((c1 << 16 |
    * c2) -> count), that corpus' row count, and the merge it picked. */
  final case class Round(counts: Array[(Long, Long)], rows: Long,
                         merge: Merge)

  /** `t` with `merges` applied in order — the model's one replace fold. */
  def encode(t: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(t)((c, m) => replace(c, lit(m.pair), lit(m.sym.toString)))

  /** `rounds` merge rounds over column `t` of `corpus`, merge r replacing
    * its pair by chr(`base` + r): one pair-count job per round, and no
    * cached block left behind. */
  def train(corpus: DataFrame, rounds: Int, base: Int): IndexedSeq[Round] = {
    var held: Option[DataFrame] = None
    try (1 to rounds).foldLeft(Vector.empty[Round]) { (done, r) =>
      val d = held.fold(corpus.select(col("t")))(
        _.select(encode(col("t"), Seq(done.last.merge)).as("t")))
        .localCheckpoint(eager = false)
      val (counts, rows) = pairCounts(d)
      held.foreach(release)
      held = Some(d)
      require(counts.nonEmpty, s"bpe: no pair left to merge in round $r")
      val best = counts.minBy { case (s, c) => (-c, s) }._1
      done :+ Round(counts, rows,
        Merge((best >> 16).toChar, (best & 0xffff).toChar, (base + r).toChar))
    } finally held.foreach(release)
  }

  /** Drop the blocks of a localCheckpoint()ed frame `d`. */
  private[graft] def release(d: DataFrame): Unit =
    d.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    }

  private type Counts = java.util.HashMap[java.lang.Long, Long]

  /** The pair-count table and row count of `d` as one single-stage job. */
  private def pairCounts(d: DataFrame): (Array[(Long, Long)], Long) = {
    val mapped = d.queryExecution.toRdd.mapPartitions { it =>
      val m = new Counts(1 << 13)
      var rows = 0L
      while (it.hasNext) {
        val row = it.next()
        rows += 1
        if (!row.isNullAt(0)) {
          val arr = graft.functions.ShingleHashKernel.hashes(
            row.getUTF8String(0), 2, 65536L, 4294967296L)
          if (arr != null) {
            var i = 0
            while (i < arr.numElements()) {
              m.merge(arr.getLong(i), 1L, (x, y) => x + y)
              i += 1
            }
          }
        }
      }
      Iterator.single((m, rows))
    }
    def add(a: (Counts, Long), b: (Counts, Long)) = {
      b._1.forEach((k, v) => a._1.merge(k, v, (x, y) => x + y))
      (a._1, a._2 + b._2)
    }
    // plain reduce below 64 partitions: each partition ships one bounded
    // map, so the driver merge is trivial and the round stays ONE stage —
    // treeReduce's intermediate level is a shuffle stage the deep chain
    // would pay 65 times (interleaved A/B on the deep chain at sf0.1:
    // treeReduce min 12.24 s vs reduce 11.12 s, 4/4 pairwise wins). Past
    // 64 partitions the tree caps what the driver receives at once — the
    // same exact integer counts in any merge order.
    val (m, rows) =
      if (mapped.getNumPartitions <= 64) mapped.reduce(add)
      else mapped.treeReduce(add)
    val out = Array.newBuilder[(Long, Long)]
    m.forEach((k, v) => out += ((k.longValue, v)))
    (out.result(), rows)
  }
}
