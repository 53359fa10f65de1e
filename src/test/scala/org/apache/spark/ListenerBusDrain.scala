package org.apache.spark

/** Waits until every posted listener event, query-execution callbacks
  * included, has been delivered (the bus is `private[spark]`). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
