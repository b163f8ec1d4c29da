package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, whose drain call is package-private. */
object BusBridge {

  /** Blocks until every queued listener event has been delivered, so
    * counts read afterwards include the operation that just finished.
    */
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
