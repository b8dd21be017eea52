package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus drain for the traced run: reading span counters before
  * the bus has delivered every task-end event would under-count them.
  * `waitUntilEmpty` is `private[spark]`, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
