package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; specs that read a
  * listener's counters first wait until the bus has delivered everything
  * posted so far. The wait is Spark-internal, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
