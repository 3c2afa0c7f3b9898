package org.apache.spark

/** Listener events arrive asynchronously; a reader of what a listener
  * collected drains the bus first (the bus is private to Spark).
  */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
