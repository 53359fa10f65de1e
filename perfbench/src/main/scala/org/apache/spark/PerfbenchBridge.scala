package org.apache.spark

/** The one `private[spark]` call the tracer needs: block until every
  * posted listener event has been delivered, so a span closes only
  * after its jobs, tasks and query executions have been counted. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
