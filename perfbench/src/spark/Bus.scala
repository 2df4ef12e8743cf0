package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener-bus events arrive asynchronously. The trace drains the bus
  * before it reads its counters, so one call's tail never lands on the
  * next; `waitUntilEmpty` is `private[spark]`, hence this package. */
object Bus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
