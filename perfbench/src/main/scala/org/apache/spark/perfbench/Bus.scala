package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the scheduler's listener bus, which is package-private. */
object Bus {
  /** Block until every posted listener event has been delivered, so the
    * job listener's counts are complete when a phase is read off. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
