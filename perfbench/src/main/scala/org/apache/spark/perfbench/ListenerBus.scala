package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is package-private to Spark; this shim lets the
  * benchmark wait until every posted event has been delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
