package org.apache.spark

/** The listener bus drain is package-private to Spark; the trace needs it
  * so that every event of a finished run is counted before summarising. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
