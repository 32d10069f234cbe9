package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * the benchmark can attribute listener data to the phase that caused
  * it. Lives in Spark's package because the bus is package-private. */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
