package org.apache.spark

/** Listener events arrive asynchronously; draining the bus before
  * reading the meter makes a unit's counters complete.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
