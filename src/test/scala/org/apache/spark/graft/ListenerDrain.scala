package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits for the listener bus to deliver every posted event, so a
  * `QueryExecutionListener` has seen each finished action. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
