package org.apache.spark

/** The listener bus is private to Spark; the tracer needs to wait until
  * every job and task event has been delivered before it reads them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
