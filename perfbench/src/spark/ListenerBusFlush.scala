package org.apache.spark

/** Listener events are delivered asynchronously; the benchmark drains the
  * bus before it reads its listeners' totals. */
object ListenerBusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
