package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously: a listener's view of
  * the jobs and stages run so far is complete only once every event
  * posted before it has been delivered. `waitUntilEmpty` is private to
  * Spark, hence this package (the same trick as
  * `org.apache.spark.sql.graftext`). */
object BusDrain {
  /** Block until every event posted so far reached every listener;
    * throws a TimeoutException after a minute. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
