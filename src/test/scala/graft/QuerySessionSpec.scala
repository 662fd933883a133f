package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.graft.{BusDrain, StreamBuses}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.Sizing
import graft.registries.ParquetMeta

/** Every `SparkEntry.queries` key runs on its own clone of the caller's
  * session, planned at one shuffle partition per
  * `Sizing.RowsPerPartition` exact input rows, capped at the caller's
  * width; the caller's session is left as it was. */
class QuerySessionSpec extends SparkTestBase {

  test("the width is one partition per 100k input rows, capped at the caller's") {
    assert(Sizing.width(4, 0L) == 1)
    assert(Sizing.width(4, 89630L) == 1)
    assert(Sizing.width(32, 99999L) == 1)
    assert(Sizing.width(32, 100000L) == 2)
    assert(Sizing.width(32, 850000L) == 9)
    assert(Sizing.width(4, 850000L) == 4)
    assert(Sizing.width(32, 10000000000L) == 32)
  }

  test("input rows are the footer counts of the named tables, files or dirs") {
    val each = Tables.names.map(n => ParquetMeta.rowCount(s"$sfDir/$n.parquet"))
    assert(Sizing.inputRows(sfDir) == each.sum)
    // a Spark-written table is a dir of part-files; absent tables count 0
    val dir = graft.sources.Export.tempDir("graft_rows_")
    spark.range(7).repartition(3).write.parquet(s"$dir/orders.parquet")
    Files.copy(Paths.get(s"$sfDir/region.parquet"), dir.resolve("region.parquet"))
    assert(Sizing.inputRows(dir.toString) == 7L + ParquetMeta.rowCount(s"$sfDir/region.parquet"))
    assert(Sizing.inputRows(s"$dir/none") == 0L)
  }

  test("a key runs on a sized clone; the caller's listeners see its queries") {
    val caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "4")
    caller.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val progress = new ConcurrentLinkedQueue[Long]
    val executions = new ConcurrentLinkedQueue[String]
    val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress.numInputRows)
    }
    val execListener = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        executions.add(name)
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit =
        executions.add(name)
    }
    caller.streams.addListener(streamListener)
    caller.listenerManager.register(execListener)
    val strategies = caller.experimental.extraStrategies
    try {
      val df = SparkEntry.queries("stream_window")(caller, sfDir)
      assert(df.collect().nonEmpty)
      BusDrain.drain(spark.sparkContext)
      assert(progress.asScala.exists(_ > 0), s"progress input rows: ${progress.asScala}")
      assert(executions.asScala.toSeq.contains("collect"), executions.asScala.toSeq)
      // the clone plans at the sized width and keeps the caller's confs
      assert(df.sparkSession ne caller)
      assert(df.sparkSession.conf.get("spark.sql.shuffle.partitions") == "1")
      assert(df.sparkSession.conf.get("spark.sql.parquet.outputTimestampType") ==
        "TIMESTAMP_MICROS")
      // the caller is untouched
      assert(caller.conf.get("spark.sql.shuffle.partitions") == "4")
      assert(caller.experimental.extraStrategies == strategies)
    } finally {
      caller.streams.removeListener(streamListener)
      caller.listenerManager.unregister(execListener)
      Caches.release()
    }
  }

  test("repeated runs leave no more stream listener buses than the caller did") {
    // each built streams manager puts one listener bus on the
    // SparkContext; a query session's is removed once its streaming
    // queries have ended, so per run a non-streaming key leaves none and
    // a streaming key only the one Spark's own per-query clone leaves,
    // as when the key ran on the caller's session itself
    val caller = spark.newSession()
    caller.streams // the caller's own manager, built once
    val sc = spark.sparkContext
    def added(run: SparkSession => Unit): Int = {
      BusDrain.drain(sc)
      val n0 = StreamBuses.count(sc)
      try run(caller) finally Caches.release()
      BusDrain.drain(sc)
      StreamBuses.count(sc) - n0
    }
    def viaQueries(key: String): Int =
      added(SparkEntry.queries(key)(_, sfDir).collect())
    val onCaller = added(SparkEntry.raw("stream_window")(_, sfDir).collect())
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    }
    for (withListener <- Seq(false, true)) {
      if (withListener) caller.streams.addListener(listener)
      try for (_ <- 1 to 3) {
        assert(viaQueries("q1_agg") == 0, s"listener: $withListener")
        assert(viaQueries("stream_window") == onCaller, s"listener: $withListener")
      } finally caller.streams.removeListener(listener)
    }
    assert(onCaller <= 1)
  }

  test("a warm rerun compiles no generated class again") {
    // each query session is a new session; an artifact-isolated one
    // would run its tasks under a class loader of its own, which
    // Spark's codegen cache is keyed by
    val caller = spark.newSession()
    caller.conf.set("spark.sql.adaptive.enabled", "false")
    val compilations = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    def run(key: String): Long = {
      val n0 = compilations.getCount
      try SparkEntry.queries(key)(caller, sfDir).collect() finally Caches.release()
      compilations.getCount - n0
    }
    for (key <- Seq("q1_agg", "dq_anova")) {
      run(key)
      assert(run(key) == 0L, key)
    }
  }
}
