package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bpe
import graft.operators.Bpe.Merge

/** Hand-computed cases for the one BPE merge chain ([[Bpe]]), and the
  * shape the oracle cannot see: one single-stage job per round and no
  * cached block left behind. */
class BpeSpec extends AnyFunSuite with SharedSpark {

  private def corpus(ts: String*): DataFrame = {
    import spark.implicits._
    ts.toDF("t")
  }

  private def key(a: Char, b: Char): Long = (a.toLong << 16) | b.toLong

  private def encoded(d: DataFrame, merges: Seq[Merge]): Seq[String] =
    d.select(Bpe.encode(col("t"), merges)).collect().map(_.getString(0))
      .toSeq

  test("Bpe: equal pair counts go to the smaller pair") {
    // xy: 2, ab: 2, ya: 1 — the tie between ab and xy goes to ab
    val rounds = Bpe.train(corpus("xyab", "ab", "xy"), 1, 0)
    assert(rounds.map(_.merge) === Seq(Merge('a', 'b', '\u0001')))
    assert(rounds.head.counts.toMap ===
      Map(key('x', 'y') -> 2L, key('a', 'b') -> 2L, key('y', 'a') -> 1L))
    assert(rounds.head.rows === 3L)
  }

  test("Bpe: a merge replaces greedily left to right without overlap") {
    val d = corpus("aaaa", "aaa")
    // round 1: aa occurs 3 + 2 times; round 2 counts the replaced
    // corpus "\1\1", "\1a"
    val rounds = Bpe.train(d, 2, 0)
    assert(rounds.head.merge === Merge('a', 'a', '\u0001'))
    assert(rounds.head.counts.toMap === Map(key('a', 'a') -> 5L))
    assert(rounds(1).counts.toMap ===
      Map(key('\u0001', '\u0001') -> 1L, key('\u0001', 'a') -> 1L))
    assert(encoded(d, Seq(rounds.head.merge)) ===
      Seq("\u0001\u0001", "\u0001a"))
  }

  test("Bpe: a round-2 merge can take the round-1 placeholder as a half") {
    val d = corpus("abcabc")
    // placeholders chr(0x251), chr(0x252) — round 1: ab 2, bc 2, ca 1
    // -> ab; "\u0251c\u0251c" then has (\u0251, c) 2, (c, \u0251) 1
    val merges = Bpe.train(d, 2, 0x250).map(_.merge)
    assert(merges === Seq(Merge('a', 'b', '\u0251'),
      Merge('\u0251', 'c', '\u0252')))
    assert(encoded(d, merges) === Seq("\u0252\u0252"))
  }

  test("Bpe: rounds = 0 gives no merges and leaves the corpus unchanged") {
    val d = corpus("abcabc", "xy")
    assert(Bpe.train(d, 0, 0).isEmpty)
    assert(encoded(d, Nil) === Seq("abcabc", "xy"))
  }

  test("Bpe: an R-round chain runs R pair-count jobs, each one stage") {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("bpe-chain") => jobs.add(e)
          case Some("bpe-drained") => drained.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      val d = corpus("the cat sat on the mat", "a hat that fits",
        "then the rat ate the oat")
      sc.setJobGroup("bpe-chain", "bpe-chain")
      Bpe.train(d, 4, 0)
      // one listener sees events in order: once the marker job's start
      // arrives, every chain job's start has too
      sc.setJobGroup("bpe-drained", "bpe-drained")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    // a groupBy count plans a second stage (and an AQE barrier job), an
    // eager per-round checkpoint a second job
    assert(jobs.size === 4)
    jobs.forEach(j => assert(j.stageInfos.size === 1,
      j.stageInfos.map(_.name)))
  }

  test("Bpe: the chain and the BPE queries leave no cached blocks behind") {
    // compare ids, not counts: the ContextCleaner may unpersist an
    // earlier test's checkpoint meanwhile (once its RDD is collected)
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    Bpe.train(corpus("abcabc", "aaaa"), 3, 0)
    assert((persisted -- before).isEmpty, "Bpe.train")
    for (q <- Seq("q_bpe_train_deep", "q_bpe_fertility_lang")) {
      SparkEntry.queries(q)(spark, SfDir).collect()
      assert((persisted -- before).isEmpty, q)
    }
  }

  /** Runs query `q` and asserts the RDDs it left persisted are exactly
    * the `reads` checkpoints its result plan reads. */
  private def leavesOnlyWhatItReads(q: String, reads: Int): Unit = {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    val df = SparkEntry.queries(q)(spark, SfDir)
    df.collect()
    val read = df.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet
    assert(read.size === reads, q)
    assert((persisted -- before) === read, q)
  }

  test("Unigram: training leaves only the word table its result reads") {
    // the seed-substring checkpoint is read by two collects and then
    // dropped; the checkpointed word table lives as long as the frame
    for (q <- Seq("q_unigram_train", "q_unigram_fertility"))
      leavesOnlyWhatItReads(q, 1)
  }

  test("FastCDC: the pair report leaves only the checkpoint it reads") {
    // the codes and edges barriers are dropped once the pair arrays
    // are materialized
    leavesOnlyWhatItReads("q_dedup_fastcdc", 1)
  }

  test("Isochrone BFS: the rounds leave only the final state's checkpoint") {
    // each round's checkpoint supersedes the last one's
    for (q <- Seq("q_isochrone_bfs", "q_isochrone_bfs_multi"))
      leavesOnlyWhatItReads(q, 1)
  }
}
