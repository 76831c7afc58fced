package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus drain for the benchmark's counters: task-end events are
  * delivered asynchronously, so a pass's counters are complete only after
  * the bus has emptied. `listenerBus` is package-private to Spark, hence
  * this object's package. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
