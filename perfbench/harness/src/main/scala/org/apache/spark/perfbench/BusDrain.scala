package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous: a listener reads complete per-op
  * telemetry only after every event posted so far has been delivered.
  * `waitUntilEmpty` is private to Spark, hence this package. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
