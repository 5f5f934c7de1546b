package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until every
  * posted listener event has been delivered, so that counters read right
  * after an action include that action's tasks.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
