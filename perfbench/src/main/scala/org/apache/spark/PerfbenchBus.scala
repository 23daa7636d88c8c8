package org.apache.spark

/** Waits until every event posted so far has reached every listener, so a
  * traced pass can be read back completely before it is aggregated. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
