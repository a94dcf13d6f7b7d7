package org.apache.spark

/** Test helper: `SparkContext.listenerBus` is package-private, so specs
  * that assert on listener-collected metrics drain the bus through here
  * instead of sleeping. Every event posted before the call (for example
  * the task ends of a finished action) has been delivered when it
  * returns. */
object ListenerBusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
