package org.apache.spark

/** The listener bus's drain is package-private to Spark; the trace
  * needs it to read complete counts after a span closes. */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
