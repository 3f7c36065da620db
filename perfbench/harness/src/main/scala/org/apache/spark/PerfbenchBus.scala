package org.apache.spark

/** The listener-bus drain, which Spark keeps package-private. The traced
  * run drains the bus at every span boundary so that each job, stage, task
  * and query-execution event lands in the span that caused it.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
