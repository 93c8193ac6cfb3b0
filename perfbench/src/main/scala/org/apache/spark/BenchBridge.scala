package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every
  * posted listener event has been delivered, so per-pass counts are
  * complete before they are read. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
