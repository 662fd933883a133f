package org.apache.spark.sql.graftext

import java.util.UUID

import org.apache.spark.SparkContext
import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.operators.Sizing

/** The session one query runs on: a clone of the caller's session
  * (`cloneSession()` is `private[sql]`, hence this package) planning its
  * shuffles at `width` partitions, with [[SmallSort]] installed.
  *
  * A clone, not `newSession()`: it inherits the caller's confs (a
  * caller that sets `spark.sql.parquet.outputTimestampType` before
  * writing a result keeps it), temp views, extra strategies and
  * `QueryExecutionListener`s. Streaming listeners live on a session's
  * `streams` manager, which a clone does not copy, so the caller's are
  * added to the clone. The caller's session is never changed.
  *
  * Every built `streams` manager puts one listener bus on the
  * SparkContext, which Spark never removes and which every later
  * streaming event is delivered to; [[BusRelease]] removes the clone's
  * once the query is done and its streaming queries have ended.
  *
  * Artifact isolation: an isolated session's tasks run in an executor
  * session state of its own, keyed by the session's id and holding its
  * own class loader, and Spark's codegen cache is keyed by class
  * loader. So every clone of an isolated caller (Spark's default) would
  * compile each of its generated classes again: graph_triangles paid 43
  * compilations on every warm run. Isolation is fixed when a session's
  * artifact manager is built, which `cloneSession()` does from the
  * parent's conf; so the query session is cloned from an intermediate
  * clone with isolation off, and its tasks share the executors' default
  * state and codegen cache from run to run. */
object QuerySession {
  /** `body` on a query session for the input under `dir`, planned at
    * [[Sizing.width]]: one partition per [[Sizing.RowsPerPartition]]
    * exact input rows, capped at the caller's width. */
  def sized[T](spark: SparkSession, dir: String)(body: SparkSession => T): T =
    run(spark, Sizing.width(spark, dir))(body)

  /** `body` on a query session planned at `width` partitions. */
  def run[T](spark: SparkSession, width: Int)(body: SparkSession => T): T = {
    val caller = spark.asInstanceOf[classic.SparkSession]
    val shared = caller.cloneSession()
    shared.conf.set("spark.sql.artifact.isolation.enabled", "false")
    val s = shared.cloneSession()
    s.conf.set("spark.sql.shuffle.partitions", width.toLong)
    SmallSort.install(s)
    caller.streams.listListeners().foreach(l => s.streams.addListener(l))
    val release = new BusRelease(s.sparkContext)
    s.streams.addListener(release)
    try body(s) finally release.done()
  }

  /** Removes the listener bus of the `streams` manager it listens on
    * from the SparkContext once [[done]] has been called and every
    * streaming query started on that manager has terminated. It counts
    * queries by run id, and the terminated event reaches it after the
    * query's progress events, so every listener on the manager has seen
    * them by then. */
  private final class BusRelease(sc: SparkContext) extends StreamingQueryListener {
    private val running = scala.collection.mutable.Set[UUID]()
    private var finished = false

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      synchronized { running += e.runId }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      synchronized { running -= e.runId; releaseIfIdle() }

    def done(): Unit = synchronized { finished = true; releaseIfIdle() }

    private def releaseIfIdle(): Unit =
      if (finished && running.isEmpty) {
        val live = sc.listenerBus
        live.findListenersByClass[StreamingQueryListenerBus]()
          .filter(_.listeners.contains(this))
          .foreach(live.removeListener)
      }
  }
}
