package org.apache.spark

/** Access to the `private[spark]` listener bus: the tracer must see every
  * task-end event of a call before it reads the counters charged to it. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
