package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event is delivered, so counters a
  * listener collects are complete before they are read. The listener bus
  * is private to Spark's own packages; this is the one bridge into it. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
