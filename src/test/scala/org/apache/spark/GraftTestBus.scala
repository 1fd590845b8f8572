package org.apache.spark

/** Test access to the listener bus: returns once every event posted so
  * far has reached the registered listeners. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
