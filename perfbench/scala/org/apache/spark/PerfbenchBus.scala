package org.apache.spark

/** The listener bus is `private[spark]`; waiting for it to deliver every
  * queued event is the one thing the benchmark's tracer needs from it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
