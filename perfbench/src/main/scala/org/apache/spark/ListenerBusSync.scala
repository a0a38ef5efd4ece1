package org.apache.spark

/** The listener bus is asynchronous and `waitUntilEmpty` is private to
  * Spark; the tracer drains it here before reading what its listener
  * collected.
  */
object ListenerBusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
