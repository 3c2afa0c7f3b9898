package org.apache.spark

/** Listener events arrive asynchronously; specs that count jobs or
  * capture plans drain the bus before reading what they collected.
  */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
