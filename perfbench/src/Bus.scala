package org.apache.spark

/** Access to the listener bus, which is package-private to Spark: the traced
  * run waits for every queued event before it reads its records.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
