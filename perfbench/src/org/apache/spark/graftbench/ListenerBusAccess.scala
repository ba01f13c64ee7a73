package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Flush point for a traced run: listener events are delivered
  * asynchronously, so the analysis waits for the bus to empty before
  * reading what the listeners recorded.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
