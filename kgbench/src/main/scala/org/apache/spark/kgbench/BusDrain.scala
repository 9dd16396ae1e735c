package org.apache.spark.kgbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; the tracer drains it at the end
  * of every traced operation so that all job and task events of the
  * operation have been delivered before its spans are closed. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
