package org.apache.spark

/** Waits until every event posted so far has reached every listener,
  * so the harness's tracer sees a complete record before it reports.
  * (The listener bus is package-private to Spark.) */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
