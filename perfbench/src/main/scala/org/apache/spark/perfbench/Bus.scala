package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, whose drain call is package-private. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
