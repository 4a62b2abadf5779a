package org.apache.spark

/** Access to the `private[spark]` listener bus: a spec must see every job
  * event posted so far before it asserts on what a listener recorded. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
