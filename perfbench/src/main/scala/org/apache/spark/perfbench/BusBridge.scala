package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The benchmark's one reach into `private[spark]` API: listener events
  * are delivered asynchronously, so counters read right after an action
  * can miss its last events. Draining the bus first makes the read exact.
  */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
