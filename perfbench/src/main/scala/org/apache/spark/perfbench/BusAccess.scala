package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous: counters read right after an action
  * may miss its last events. Draining the bus is package-private to Spark,
  * hence this one-method bridge. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
