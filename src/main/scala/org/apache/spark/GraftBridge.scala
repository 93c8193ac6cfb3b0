package org.apache.spark

/** The one Spark-internal call graft needs: wait until every posted
  * listener event has been delivered, so a listener's counts are
  * complete before they are read (`graft.Dev`'s per-phase job counts). */
object GraftBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
