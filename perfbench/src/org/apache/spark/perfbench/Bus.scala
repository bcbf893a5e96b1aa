package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus access the public API does not offer: a traced run must
  * see every job, task and query-execution event before it aggregates. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
