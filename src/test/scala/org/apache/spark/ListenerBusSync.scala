package org.apache.spark

/** The listener bus is asynchronous and `waitUntilEmpty` is private to
  * Spark; specs that count jobs with a listener drain it here before
  * reading what the listener collected.
  */
object ListenerBusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
