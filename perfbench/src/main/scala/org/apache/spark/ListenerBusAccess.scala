package org.apache.spark

/** The listener bus is package-private to Spark; the benchmark needs to
  * wait for it to drain before it reads its listener's counters. */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
