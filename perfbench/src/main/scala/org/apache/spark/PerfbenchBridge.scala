package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event,
  * so the benchmark's listener records are complete before they are
  * written out. The bus is private to Spark's package. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
