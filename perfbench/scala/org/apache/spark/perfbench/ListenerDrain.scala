package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive on an asynchronous bus; the benchmark reads its
  * meters only after the bus has delivered every event of a rep. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
