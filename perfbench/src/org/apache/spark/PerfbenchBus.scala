package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so a traced rep is analysed only once all of its events are in. The
  * method is package-private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
