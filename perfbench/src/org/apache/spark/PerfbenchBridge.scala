package org.apache.spark

/**
 * Bridge into the `private[spark]` listener bus: the traced run reads a
 * stage's metrics only after every event of the op has been delivered,
 * and the bus is asynchronous.
 */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
