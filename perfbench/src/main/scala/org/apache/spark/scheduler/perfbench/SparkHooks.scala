package org.apache.spark.scheduler.perfbench

import org.apache.spark.SparkContext

/** Spark-private hooks; this package sits under the scheduler so it can
  * read the job counter without registering a listener. */
object SparkHooks {
  /** Deliver every pending listener event before a listener is detached. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Jobs submitted to the scheduler since the context started. */
  def jobsSubmitted(sc: SparkContext): Int = sc.dagScheduler.numTotalJobs
}
