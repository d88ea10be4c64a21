package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Tune

/** The generated input's manifest.json (see gen.py). */
object Manifest {
  private var root = ""
  private var m: Map[String, Any] = Map.empty

  def load(dir: String): Unit = {
    root = dir
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/manifest.json"))
    m = org.json4s.jackson.JsonMethods.parse(text).values
      .asInstanceOf[Map[String, Any]]
  }

  /** The measured input and the quarter-scale warm-up input. */
  def dir: String = root
  def warmDir: String = s"$root/warm"
  def params: Map[String, Any] = m("params").asInstanceOf[Map[String, Any]]
  def sizes(d: String): Map[String, Any] =
    m(if (d == warmDir) "warm_sizes" else "sizes")
      .asInstanceOf[Map[String, Any]]
}

/** Measured process of the benchmark. Started by run.py:
  *
  *   graftbench.Main <workload> <input dir> <work dir> <seconds> <trace 0|1>
  *
  * Builds the session the way the engine's own mains do, warms up on the
  * quarter-scale input, runs the timed section, then the correctness checks, and
  * writes everything it measured to `<work dir>/result.json`. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, input, work, secs, trace) = args
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .appName(s"graftbench-$workload")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // traced runs see every task; the default queue drops events
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = System.currentTimeMillis()
    Manifest.load(input)
    Tune.forInput(spark, Manifest.dir)
    val ctx = new Ctx(spark, work, trace == "1")
    ctx.out("nproc") = cpus
    ctx.out("initial_partitions") = spark.conf
      .get("spark.sql.adaptive.coalescePartitions.initialPartitionNum").toInt
    val wl: Workload = workload match {
      case "geo_batch" => new GeoBatch(ctx)
      case "curate_batch" => new CurateBatch(ctx)
      case "ann_serve" => new AnnServe(ctx)
    }
    wl.warmUp()
    ctx.out("session_ready_ms") = sessionReady
    ctx.out("setup_done_ms") = System.currentTimeMillis()
    wl.measure(secs.toDouble)
    ctx.out("measure_done_ms") = System.currentTimeMillis()
    wl.checks()
    ctx.out("checks_done_ms") = System.currentTimeMillis()
    if (ctx.traceRun) {
      ctx.out("layers") = Report.layers(ctx)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$work/spans.json"),
        Json.render(ctx.tracer.toJson))
    }
    ctx.out("attempted") = ctx.attempted
    ctx.out("failed") = ctx.failed
    ctx.out("errors") = ctx.errors.toSeq
    ctx.out("checks") = ctx.checks.map { case (k, (ok, d)) =>
      k -> Map("ok" -> ok, "detail" -> d) }
    ctx.out("peak_rss_mb") = Report.peakRssMb
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$work/result.json"), Json.render(ctx.out))
    spark.stop()
  }
}

/** Per-layer metrics from the traced units' spans. */
object Report {
  /** Process high-water resident set (VmHWM) in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def layers(ctx: Ctx): mutable.Map[String, Double] = {
    val t = ctx.tracer
    val out = mutable.LinkedHashMap.empty[String, Double]
    val byUnit = t.spans.groupBy(_.unit)
    def med(xs: Iterable[Double]): Double = Stats.median(xs.toSeq)
    // per span name: per-unit totals, median over the units that ran it
    val names = t.spans.map(_.name).distinct.filterNot(n =>
      Set("pass", "request", "build", "assign").contains(n))
    names.foreach { n =>
      val per = byUnit.values.map(_.filter(_.name == n)).filter(_.nonEmpty)
      out(s"${n}_s") = med(per.map(_.map(t.selfSeconds).sum))
      val rows = per.map(_.map(s => math.max(0L, s.rows)).sum.toDouble)
      out(s"$n.rows_out") = med(rows)
      if (n.startsWith("operators.")) {
        val accs = per.map { ss =>
          val a = new SparkAcc; ss.foreach(s => a.add(t.inclusive(s))); a }
        out(s"$n.shuffle_mb") = med(accs.map(_.shuffleBytes / 1e6))
        out(s"$n.spill_mb") = med(accs.map(_.spillBytes / 1e6))
        out(s"$n.task_skew") = med(accs.map(_.taskSkew))
        // 0 when the operator wrote no shuffle records (broadcast plans)
        out(s"$n.yield") = med(rows.zip(accs).map { case (r, a) =>
          if (a.shuffleRecords == 0) 0.0 else r / a.shuffleRecords })
      }
    }
    // per unit of work: passes for batch workloads, requests for serving
    val unitName = if (t.spans.exists(_.name == "request")) "request" else "pass"
    val units = t.spans.filter(_.name == unitName)
    val accs = units.map(t.inclusive)
    val nproc = ctx.out("nproc").asInstanceOf[Int]
    out("plans.plan_ms") = med(units.map(u =>
      byUnit(u.unit).map(_.planNs).sum / 1e6))
    out("spark.jobs_per_req") = med(accs.map(_.jobs.toDouble))
    out("spark.stages_per_req") = med(accs.map(_.stages.toDouble))
    out("spark.tasks_per_req") = med(accs.map(_.tasks.toDouble))
    out("spark.sched_delay_ms") =
      accs.map(_.schedMs).sum.toDouble / math.max(1L, accs.map(_.tasks).sum)
    out("spark.core_util") = accs.map(_.runMs).sum / 1e3 /
      math.max(1e-9, units.map(_.seconds).sum * nproc)
    out("spark.gc_s") = med(accs.map(_.gcMs / 1e3))
    out("spark.shuffle_mb") = med(accs.map(_.shuffleBytes / 1e6))
    out("spark.spill_mb") = med(accs.map(_.spillBytes / 1e6))
    out
  }
}
