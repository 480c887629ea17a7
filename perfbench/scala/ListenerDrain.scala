package org.apache.spark

/** Waits until every posted scheduler event has reached the listeners, so
 * a pass's counts are complete before they are read. The listener bus is
 * private to Spark, hence this file's package. */
object PerfbenchListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
