package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the `private[spark]` listener bus: listeners (and the
  * status store behind `statusTracker`) see events asynchronously, so a
  * spec that counts jobs drains the bus before reading its counters. */
object SparkTestHooks {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
