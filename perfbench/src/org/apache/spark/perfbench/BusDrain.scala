package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; counters read right after an
  * action must first let the bus deliver every queued event. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
