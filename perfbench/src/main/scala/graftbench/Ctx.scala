package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Run state shared by the workloads: the session, the tracer, operation
  * accounting and the raw measurements handed back to run.py. */
final class Ctx(val spark: SparkSession, val work: String,
                val traceRun: Boolean) {
  val tracer = new Tracer(spark.sparkContext)
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  /** Named raw measurements (lists of samples or single values). */
  val out = mutable.LinkedHashMap.empty[String, Any]
  /** Correctness checks run inside the JVM: name -> (passed, detail). */
  val checks = mutable.LinkedHashMap.empty[String, (Boolean, String)]

  /** One attempted operation; an exception counts as a failure and
    * yields None. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(400)
        None
    }
  }

  /** A correctness check outside the timed region; a failed check or an
    * exception counts as a failed operation. */
  def check(name: String)(body: => (Boolean, String)): Unit = {
    val r = op(s"check.$name")(body)
    r match {
      case Some((ok, detail)) =>
        if (!ok) { failed += 1; errors += s"check.$name: $detail" }
        checks(name) = (ok, detail)
      case None => checks(name) = (false, "exception")
    }
  }

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Materialize an operator's output as one attempted operation. */
  def exec(name: String, df: => DataFrame): Long =
    op(name)(tracer.exec(name, df)).getOrElse(
      throw new PassFailed(name))

  /** Materialize and keep (local checkpoint) for later steps. */
  def keep(name: String, df: => DataFrame): DataFrame =
    op(name)(span(name) {
      // lazy checkpoint: the count below is the one job that fills it
      val c = df.localCheckpoint(eager = false)
      tracer.rows(c.queryExecution.toRdd.count())
      c
    }).getOrElse(throw new PassFailed(name))

  /** Drop everything the last pass persisted or checkpointed. */
  def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  /** Each input table is opened once per run: opening infers the parquet
    * schema with a Spark job of its own, which a table with a known
    * schema would not pay per query. Every use still scans the files. */
  def read(path: String): DataFrame =
    reads.getOrElseUpdate(path, spark.read.parquet(path))
  private val reads = mutable.Map.empty[String, DataFrame]
}

/** A step failed; the rest of the pass depends on it and is skipped. */
final class PassFailed(step: String) extends Exception(s"pass stopped at $step")

/** Minimal JSON rendering for the result record. */
object Json {
  def render(v: Any): String = v match {
    case s: String => quote(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.lang.Double.toString(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => other.toString // Int, Long, Boolean
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
