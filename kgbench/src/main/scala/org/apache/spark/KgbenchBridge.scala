package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every
  * queued listener event has been delivered, so per-job-group totals
  * are complete before they are read. */
object KgbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
