package graft

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Optimization-round instrument (guide §1/§7): run one query cold+warm
  * with a stage listener attached and print, for the WARM run, every
  * stage's wall time, task time, shuffle read/write bytes and rows, and
  * spill — the per-operator evidence the Spark UI would show, usable
  * headless. `runMain graft.ProfileKey <key> [sfDir]`.
  */
object ProfileKey {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.openCostInBytes", Sessions.openCostInBytes)
      .config("spark.sql.adaptive.enabled", Sessions.adaptiveEnabled)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    case class St(stageId: Int, nameLine: String, wallMs: Long, taskMs: Long,
        cpuMs: Long, inRows: Long, inBytes: Long, shRdBytes: Long, shRdRows: Long,
        shWrBytes: Long, shWrRows: Long, spillMem: Long, spillDisk: Long, nTasks: Int)
    val stages = mutable.ArrayBuffer.empty[St]
    val jobs = mutable.ArrayBuffer.empty[(Int, Long, String)]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(-1L)
        stages += St(si.stageId, si.name, wall, m.executorRunTime, m.executorCpuTime / 1000000L,
          m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
          m.memoryBytesSpilled, m.diskBytesSpilled, si.numTasks)
      }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs += ((js.jobId, js.time, Option(js.properties.getProperty("spark.job.description")).getOrElse("")))
    }
    // per-task durations per stage — max/median exposes skew and
    // stragglers that aggregate stage metrics hide (guide §2.5)
    val taskDur = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    val taskListener = new SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        taskDur.getOrElseUpdate(te.stageId, mutable.ArrayBuffer.empty) +=
          te.taskInfo.duration
    }

    // cold run (not profiled: includes codegen/plan compile)
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, dir).count()
    println(f"$name cold: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    Caches.release(); spark.catalog.clearCache()

    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.addSparkListener(taskListener)
    // driver-side planning tax: QueryPlanningTracker phase times for
    // every query execution in the warm run (the "gaps" decomposition)
    val phases = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var nExec = 0
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        nExec += 1
        qe.tracker.phases.foreach { case (ph, s) =>
          phases(ph) += (s.endTimeMs - s.startTimeMs) }
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(qeListener)
    val t1 = System.nanoTime()
    SparkEntry.queries(name)(spark, dir).count()
    val warm = (System.nanoTime() - t1) / 1e9
    Caches.release(); spark.catalog.clearCache()
    org.apache.spark.graft.BusDrain.drain(spark.sparkContext) // last stage events
    println(f"$name warm: $warm%.2f s  (stages=${stages.size}, jobs=${jobs.size})")
    val totWall = stages.map(_.wallMs).sum
    println(f"sum-of-stage-wall: ${totWall / 1e3}%.2f s (gaps to warm = driver/plan/schedule time)")
    println(s"planning phases over $nExec tracked executions: " +
      phases.toSeq.sortBy(-_._2).map { case (p, ms) => s"$p=${ms}ms" }.mkString(" "))
    def mb(b: Long) = f"${b / 1048576.0}%.1f"
    stages.sortBy(-_.wallMs).take(40).foreach { s =>
      val ds = taskDur.getOrElse(s.stageId, mutable.ArrayBuffer.empty[Long]).sorted
      val (tmax, tmed) =
        if (ds.isEmpty) (0L, 0L) else (ds.last, ds(ds.size / 2))
      println(f"stage ${s.stageId}%4d wall=${s.wallMs}%6dms task=${s.taskMs}%7dms cpu=${s.cpuMs}%7dms " +
        f"tasks=${s.nTasks}%3d tmax=${tmax}%5dms tmed=${tmed}%5dms " +
        f"in=${s.inRows}%9d/${mb(s.inBytes)}%8sMB shRd=${s.shRdRows}%9d/${mb(s.shRdBytes)}%8sMB " +
        f"shWr=${s.shWrRows}%9d/${mb(s.shWrBytes)}%8sMB spill=${mb(s.spillMem)}/${mb(s.spillDisk)}MB  ${s.nameLine.take(80)}")
    }
    spark.stop()
  }
}
