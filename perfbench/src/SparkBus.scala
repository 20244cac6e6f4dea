package org.apache.spark

/** Lets the traced run wait until the listener bus has delivered every
  * event of the work that just finished, so a span's counters are
  * complete when they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
