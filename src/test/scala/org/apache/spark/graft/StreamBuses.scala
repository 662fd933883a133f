package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus

/** Streaming listener buses registered on a SparkContext: each built
  * `streams` manager adds one and nothing removes it. The listener bus
  * is private to Spark, hence this package. */
object StreamBuses {
  def count(sc: SparkContext): Int =
    sc.listenerBus.findListenersByClass[StreamingQueryListenerBus]().size
}
