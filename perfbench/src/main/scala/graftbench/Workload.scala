package graftbench

import scala.collection.mutable

object Workload {
  /** Trace runs order units untraced, traced, traced, untraced, ... (ABBA):
    * units keep speeding up as the JIT warms, and ABBA cancels a linear
    * trend that plain alternation would book as tracing overhead. */
  def tracedAt(i: Int): Boolean = i % 4 == 1 || i % 4 == 2
}

/** One benchmark workload over the input gen.py wrote. */
trait Workload {
  /** Set-up: run the workload's plans on the warm-up input. */
  def warmUp(): Unit
  /** The timed section: keep working until `seconds` have passed. */
  def measure(seconds: Double): Unit
  /** Correctness checks, outside the timed region. */
  def checks(): Unit
}

/** A batch workload: a closed loop of full passes. */
abstract class BatchWorkload(ctx: Ctx) extends Workload {
  /** One full pass over the layers under `dir`. */
  def pass(dir: String): Unit

  def warmUp(): Unit = runPass(Manifest.warmDir, traced = false)

  private def runPass(dir: String, traced: Boolean): Option[Double] = {
    val t0 = System.nanoTime()
    val ok =
      try { ctx.tracer.unitOf("pass", s"pass-${ctx.tracer.spans.size}",
        traced)(pass(dir)); true }
      catch { case _: PassFailed => false }
      finally ctx.release()
    if (ok) Some((System.nanoTime() - t0) / 1e9) else None
  }

  /** Passes until `seconds` have passed, and at least two (job_s is the
    * mean of the first two). A trace run interleaves untraced and traced
    * passes (at least two of each) so the tracing overhead is measured on
    * the same input in the same process. */
  def measure(seconds: Double): Unit = {
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < seconds || i < 2 || (ctx.traceRun && i < 4)) {
      val tr = ctx.traceRun && Workload.tracedAt(i)
      runPass(Manifest.dir, tr).foreach(t => (if (tr) traced else plain) += t)
      i += 1
    }
    ctx.out("pass_s") = plain.toSeq
    ctx.out("pass_traced_s") = traced.toSeq
  }
}
