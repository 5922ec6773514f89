package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
 *  so counters read after an action include all of its tasks. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
