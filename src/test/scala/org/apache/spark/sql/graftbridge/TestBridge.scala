package org.apache.spark.sql.graftbridge

/** Test-only access to Spark internals (`listenerBus` is private[spark]). */
object TestBridge {
  /** Blocks until every posted listener event has been delivered, so a
    * listener's counts are complete once an action returns. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
