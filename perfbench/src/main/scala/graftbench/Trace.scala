package graftbench

import scala.collection.mutable

import org.apache.spark.{BenchBridge, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** Spark work attributed to one span: what the listener saw for the jobs
  * submitted under the span's job group. */
final class SparkAcc {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var schedMs = 0L
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  /** Call sites of the jobs, as Spark reports them. */
  val sites = mutable.LinkedHashSet.empty[String]
  /** Executor run time of every task, per stage (for task skew). */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def add(o: SparkAcc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    gcMs += o.gcMs; schedMs += o.schedMs; shuffleBytes += o.shuffleBytes
    shuffleRecords += o.shuffleRecords; spillBytes += o.spillBytes
    o.stageTaskMs.foreach { case (s, ts) =>
      stageTaskMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= ts }
  }

  /** Max over stages of (slowest task / median task), for stages with at
    * least two tasks; 1.0 when no stage qualifies. */
  def taskSkew: Double = {
    val ratios = stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val med = math.max(1L, s(s.size / 2))
      s.last.toDouble / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** Listener that files each job, stage and task under the span whose job
  * group submitted it. Job group ids are "span-<id>". */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  val bySpan = mutable.Map.empty[Int, SparkAcc]

  private def acc(span: Int): SparkAcc =
    bySpan.getOrElseUpdate(span, new SparkAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith("span-")).foreach { g =>
      val span = g.stripPrefix("span-").toInt
      acc(span).jobs += 1
      e.stageInfos.headOption.foreach(si => acc(span).sites += si.name)
      e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, span))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(s => acc(s).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val a = acc(span)
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        a.spillBytes += m.diskBytesSpilled
        a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          m.executorRunTime
      }
    }
  }
}

/** A span: one call into a layer, timed from the benchmark's side. Spans
  * of one pass or request share `unit`. */
final case class Span(id: Int, name: String, parent: Int, unit: String,
                      start: Long) {
  var end: Long = 0L
  var rows: Long = -1L
  var planNs: Long = 0L
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. Tracing is switched on per pass or request;
  * while it is off, `span` only runs its body (no job group, no listener,
  * no bookkeeping), which is what the end-to-end numbers measure. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener = new SpanListener
  private var stack: List[Span] = Nil
  private var unit = ""
  var active = false

  /** Trace `body` as one unit (a pass or a request) named `name`. */
  def unitOf[T](name: String, id: String, traced: Boolean)(body: => T): T =
    if (!traced) body
    else {
      sc.addSparkListener(listener)
      active = true
      unit = id
      try span(name)(body)
      finally {
        active = false
        BenchBridge.drainListeners(sc)
        sc.removeSparkListener(listener)
      }
    }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), unit,
        System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Build `df` and materialize it as the span `name` (operators may run
    * jobs while building): plan first (timed as plan time), then run the
    * un-pruned physical plan. Returns the row count. */
  def exec(name: String, df: => DataFrame): Long = span(name) {
    val qe = df.queryExecution
    val t0 = System.nanoTime()
    qe.executedPlan
    val planNs = System.nanoTime() - t0
    val n = qe.toRdd.count()
    current.foreach { s => s.rows = n; s.planNs = planNs }
    n
  }

  /** Record the output row count of the innermost open span. */
  def rows(n: Long): Unit = current.foreach(_.rows = n)

  /** Add plan time to the innermost open span. */
  def plan(ns: Long): Unit = current.foreach(s => s.planNs += ns)

  private def current: Option[Span] = if (active) stack.headOption else None

  /** Self time: span time minus the part covered by its child spans. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end))
      .sortBy(_._1)
    var covered = 0L
    var upTo = s.start
    kids.foreach { case (a, b) =>
      val from = math.max(a, upTo)
      if (b > from) { covered += b - from; upTo = b }
    }
    (s.end - s.start - covered) / 1e9
  }

  /** Spark work of `s` and all its descendants. */
  def inclusive(s: Span): SparkAcc = {
    val out = new SparkAcc
    def walk(x: Span): Unit = {
      listener.bySpan.get(x.id).foreach(out.add)
      spans.filter(_.parent == x.id).foreach(walk)
    }
    walk(s)
    out
  }

  def toJson: Any = spans.map { s =>
    val a = listener.bySpan.getOrElse(s.id, new SparkAcc)
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "unit" -> s.unit, "start_ns" -> s.start, "end_ns" -> s.end,
      "self_s" -> selfSeconds(s), "rows" -> s.rows,
      "plan_ms" -> s.planNs / 1e6, "jobs" -> a.jobs, "stages" -> a.stages,
      "tasks" -> a.tasks, "shuffle_bytes" -> a.shuffleBytes,
      "spill_bytes" -> a.spillBytes, "sites" -> a.sites.toSeq)
  }.toSeq
}
