package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Lets the benchmark wait for the listener bus to deliver every event
  * posted so far, so per-operation totals are complete when read. */
object ListenerSync {
  def await(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
