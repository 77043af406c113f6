package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * the benchmark reads complete job and task counts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
