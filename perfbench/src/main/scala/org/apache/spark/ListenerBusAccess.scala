package org.apache.spark

/** The listener bus is package-private; a span must drain it before it
  * reads the listener's counters, or events of its own jobs are missed. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
