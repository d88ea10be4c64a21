package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until every
  * queued listener event has been delivered, so span totals read after a
  * traced pass include all of that pass's tasks. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
