package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * traced run reads complete listener counters (the bus is asynchronous and
  * its drain method is package-private). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
