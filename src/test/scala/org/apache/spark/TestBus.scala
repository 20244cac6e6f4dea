package org.apache.spark

/** Lets a spec wait until the listener bus has delivered every event of
  * the work that just finished, so what a listener or the status tracker
  * reports is complete when the spec reads it. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
