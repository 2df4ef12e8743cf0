package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Metrics shim (the sibling of sql.graft.StatsBarrier's one sanctioned
  * internals reach): listener-bus events are delivered asynchronously, so
  * a listener that attributes task metrics to the entry that just ran must
  * drain the bus between entries or bleed one entry's tail into the next.
  * `waitUntilEmpty` is `private[spark]` — this object re-exports it for
  * `graft.obs.QueryMetrics`. Not used by any library operator. */
object BusFlush {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
