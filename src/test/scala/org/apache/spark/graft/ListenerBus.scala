package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the SparkContext's listener bus (`private[spark]`):
  * job-count pins drain it before reading their counters, instead of
  * polling until a count looks stable. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
