package org.apache.spark

/** Test access to the listener bus, which is private to Spark: waits until
  * every posted event has reached every listener, so a spec can count jobs
  * without racing the asynchronous bus.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
