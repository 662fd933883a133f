package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on the same time
  * base as Spark's listener events (which are epoch milliseconds). */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** A timed region at a layer boundary. `parent` is the enclosing span's
  * id (-1 for an op's root span); every span of one op shares `op`. */
final case class Span(id: Int, op: Int, name: String, parent: Int,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

final case class JobRec(op: Int, phase: String, jobId: Int, start: Double,
                        var end: Double)
final case class TaskRec(op: Int, jobPhase: String, stage: Int, launch: Double,
                         finish: Double, runMs: Long, cpuNs: Long, gcMs: Long,
                         inBytes: Long, inRecs: Long, outBytes: Long, outRecs: Long,
                         shRead: Long, shWrite: Long, spill: Long, peakMem: Long,
                         failed: Boolean)
final case class ExecRec(op: Int, func: String, phases: Map[String, (Double, Double)])
final case class ProgRec(op: Int, query: String, trigger: Long, addBatch: Long,
                         planning: Long, offsets: Long, stateRows: Long,
                         stateBytes: Long, stateCommitMs: Long)

/** In-memory tracer. Spans come from the harness's own calls into each
  * layer; Spark's public listeners add jobs, tasks, query executions and
  * streaming progress. Everything stays in memory and is written once,
  * at exit. With `enabled = false` every method is a plain pass-through
  * and no listener is registered. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  val jobs = ArrayBuffer.empty[JobRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  val execs = ArrayBuffer.empty[ExecRec]
  val progress = ArrayBuffer.empty[ProgRec]

  @volatile private var currentOp = 0
  private var nextId = 0
  private val stack = mutable.Stack.empty[Int]
  private val jobById = mutable.Map.empty[Int, JobRec]
  private val stageJobPhase = mutable.Map.empty[Int, String]
  private val PhaseProp = "perfbench.phase"

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val phase = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseProp)))
        .getOrElse("other")
      val j = JobRec(currentOp, phase, e.jobId, e.time.toDouble, e.time.toDouble)
      jobs += j
      jobById(e.jobId) = j
      e.stageIds.foreach(s => stageJobPhase(s) = phase)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobById.remove(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val i = e.taskInfo
      val phase = stageJobPhase.getOrElse(e.stageId, "other")
      if (m == null) {
        tasks += TaskRec(currentOp, phase, e.stageId, i.launchTime.toDouble,
          i.finishTime.toDouble, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, failed = true)
      } else {
        tasks += TaskRec(currentOp, phase, e.stageId, i.launchTime.toDouble,
          i.finishTime.toDouble, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
          failed = !i.successful)
      }
    }
  }

  private val execListener = new QueryExecutionListener {
    private def rec(func: String, qe: QueryExecution): Unit = Tracer.this.synchronized {
      val ph = qe.tracker.phases.map { case (k, s) =>
        k -> (s.startTimeMs.toDouble, s.endTimeMs.toDouble) }
      execs += ExecRec(currentOp, func, ph)
    }
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit = rec(func, qe)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = rec(func, qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        val st = Option(p.stateOperators).map(_.toSeq).getOrElse(Seq.empty)
        progress += ProgRec(currentOp, p.id.toString, d("triggerExecution"), d("addBatch"),
          d("queryPlanning"), d("walCommit") + d("commitOffsets"),
          st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
          st.map(_.commitTimeMs).sum)
      }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(execListener)
    spark.streams.addListener(streamListener)
  }

  /** Deliver every event posted so far (listener buses are async). */
  def drain(): Unit = if (enabled) BusDrain.drain(spark.sparkContext)

  /** Run one op under its root span; drains the buses afterwards (outside
    * the span) so the next op starts with no events in flight. */
  def op[T](opId: Int, name: String)(body: => T): T =
    if (!enabled) body
    else {
      currentOp = opId
      try span(s"op:$name")(body) finally drain()
    }

  /** Run untraced work between ops (output checks): its events are
    * delivered before the next op starts and belong to no op. */
  def outside[T](body: => T): T =
    if (!enabled) body
    else {
      currentOp = -1
      try body finally drain()
    }

  /** Time `body` as a child of the innermost open span. Jobs submitted
    * from this thread carry the span name as their phase. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val prevPhase = sc.getLocalProperty(PhaseProp)
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      if (parent >= 0) sc.setLocalProperty(PhaseProp, name)
      val s = Clock.nowMs
      try body
      finally {
        val e = Clock.nowMs
        stack.pop()
        sc.setLocalProperty(PhaseProp, prevPhase)
        synchronized { spans += Span(id, currentOp, name, parent, s, e) }
      }
    }

  def detach(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(execListener)
    spark.streams.removeListener(streamListener)
  }
}

/** Sums the CPU time of Spark tasks, except those of jobs submitted while
  * the harness runs its own output checks (marked `Untimed`). Registered
  * in every run: one addition per task. */
final class TaskCpuMeter(spark: SparkSession) extends SparkListener {
  private val untimedStages = mutable.Set.empty[Int]
  private var cpuNs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Option(e.properties).exists(_.getProperty(TaskCpuMeter.Untimed) != null))
      untimedStages ++= e.stageIds
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null && !untimedStages(e.stageId)) cpuNs += e.taskMetrics.executorCpuTime
  }

  spark.sparkContext.addSparkListener(this)

  /** Task CPU seconds since the last call, once every event has arrived. */
  def take(): Double = {
    BusDrain.drain(spark.sparkContext)
    synchronized { val s = cpuNs / 1e9; cpuNs = 0L; s }
  }

  /** Run harness work whose Spark jobs are not the program's. */
  def untimed[T](body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(TaskCpuMeter.Untimed, "1")
    try body finally sc.setLocalProperty(TaskCpuMeter.Untimed, null)
  }
}

object TaskCpuMeter {
  val Untimed = "perfbench.untimed"
}

/** Interval arithmetic for self time and coverage. */
object Intervals {
  /** Total length of the union of `iv`, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

object Stats {
  /** Linear-interpolated percentile (numpy's default), q in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def pctOr0(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) 0.0 else pct(xs, q)
}

/** Minimal JSON rendering for the result file (no library needed). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
