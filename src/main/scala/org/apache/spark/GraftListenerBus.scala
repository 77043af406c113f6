package org.apache.spark

/** Compile-checked access to the `private[spark]` listener bus: lives
  * in Spark's package so a rename of `listenerBus` or
  * `waitUntilEmpty` fails the build instead of silently skipping the
  * drain. */
object GraftListenerBus {
  /** Blocks until every queued listener event has been delivered
    * (a TimeoutException after 10 s). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
