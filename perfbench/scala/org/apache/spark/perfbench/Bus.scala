package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the SparkContext's listener bus, which is `private[spark]`. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
