package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.{Caches, SparkEntry}

/** One query op's outcome. `secs` is the full-result latency: DataFrame
  * construction (with any eager side jobs) plus the noop-sink write that
  * materializes every column. Cache release is not part of it. */
final case class QueryOp(id: Int, key: String, pass: String, ok: Boolean,
                         secs: Double, clientCpu: Double, taskCpu: Double, allocMb: Double,
                         rows: Long, err: String) {
  def time: OpTime = OpTime(ok, secs, clientCpu)
  def json: String = Json.obj(Seq(
    "op" -> id.toString, "key" -> Json.str(key), "pass" -> Json.str(pass),
    "ok" -> ok.toString, "secs" -> Json.num(secs), "client_cpu" -> Json.num(clientCpu),
    "task_cpu" -> Json.num(taskCpu), "alloc_mb" -> Json.num(allocMb), "rows" -> rows.toString,
    "error" -> (if (err == null) "null" else Json.str(err))))
}

/** A query workload: a fixed list of `SparkEntry.queries` keys, run
  * serially by one closed-loop client. Every op is followed by
  * `Caches.release()` and `clearCache()`, untimed, so nothing is cached
  * across ops. Passes: three set-up repetitions, one untimed warm-up
  * pass, the timed passes `--seconds` buys (each pass in a new seeded
  * order), then, with `--trace 1`, one traced pass and one
  * `count()` pass for the bridge to the legacy numbers. */
object QueryWorkload {

  /** Timed passes for `seconds`: about one per `PassSecs` (a warm pass's
    * wall time on 4 vCPUs), at least one. The count depends on `seconds`
    * alone, so it is the same from run to run instead of flipping with
    * how fast the machine ran the warm-up pass. */
  val PassSecs = 10.0
  def timedPasses(seconds: Double): Int = math.max(1, math.round(seconds / PassSecs).toInt)

  val Families: Seq[String] = Seq("q", "evt", "dq", "rel", "feat", "sample", "mix",
    "dedup", "sim", "text", "mm", "graph", "stream", "maint")

  def family(key: String): String = {
    val f = key.takeWhile(_ != '_')
    if (f.matches("q\\d+")) "q" else f
  }

  def message(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse(e.toString)
    s"${e.getClass.getSimpleName}: ${m.linesIterator.toSeq.headOption.getOrElse("")}".take(300)
  }

  /** Materialize every column of `df` without collecting it; returns the
    * row count, observed on the way through. */
  def materialize(df: DataFrame): Observation = {
    val obs = new Observation()
    df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    obs
  }

  def release(spark: SparkSession): Unit = {
    Caches.release()
    spark.catalog.clearCache()
  }

  def run(spark0: SparkSession, o: Opts): Outcome = {
    require(o.keys.nonEmpty, s"workload ${o.workload} has no keys")
    val unknown = o.keys.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(", ")}")
    val rng = new Random(o.seed)
    val ops = ArrayBuffer.empty[QueryOp]
    var nextId = 0
    var trackedPeak = 0
    var releaseSecs = 0.0
    var spark = spark0
    var tracer = new Tracer(spark, enabled = false)
    val taskCpu = new TaskCpuMeter(spark0)

    def runOp(key: String, pass: String): QueryOp = {
      val id = nextId
      nextId += 1
      val fn = SparkEntry.queries(key)
      var obs: Observation = null
      var err: String = null
      var secs = 0.0
      var clientCpu = 0.0
      var allocMb = 0.0
      tracer.op(id, key) {
        val a0 = Main.allocatedMb()
        val d0 = Main.threadCpuSeconds()
        val t0 = System.nanoTime()
        try {
          val df = tracer.span("build")(fn(spark, o.data))
          obs = tracer.span("write")(materialize(df))
        } catch { case e: Throwable => err = message(e) }
        secs = (System.nanoTime() - t0) / 1e9
        clientCpu = Main.threadCpuSeconds() - d0
        allocMb = Main.allocatedMb() - a0
        trackedPeak = math.max(trackedPeak, Caches.trackedCount)
        val r0 = System.nanoTime()
        tracer.span("release")(release(spark))
        releaseSecs += (System.nanoTime() - r0) / 1e9
      }
      val opTaskCpu = taskCpu.take()
      var rows = -1L
      if (err == null) {
        rows = obs.get("n").asInstanceOf[Long]
        o.expect.get(key) match {
          case Some(want) if want != rows => err = s"row count $rows, expected $want"
          case None => err = "no expected row count recorded"
          case _ =>
        }
      }
      val op = QueryOp(id, key, pass, err == null, secs, clientCpu, opTaskCpu, allocMb, rows, err)
      ops += op
      op
    }

    // set-up, three times: a fresh session state and a first run of the
    // workload's first key on it
    val setup = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val c0 = Main.cpuSeconds()
      spark = spark0.newSession()
      runOp(o.keys.head, "setup")
      ((System.nanoTime() - t0) / 1e9, Main.cpuSeconds() - c0)
    }
    rng.shuffle(o.keys).foreach(runOp(_, "warmup"))

    val passes = timedPasses(o.seconds)
    System.gc()
    val gc0 = Main.gcSeconds()
    val timedStart = System.nanoTime()
    releaseSecs = 0.0
    (1 to passes).foreach(_ => rng.shuffle(o.keys).foreach(runOp(_, "timed")))
    val timedWall = (System.nanoTime() - timedStart) / 1e9
    val timedRelease = releaseSecs
    val gcTimed = Main.gcSeconds() - gc0
    val timed = ops.filter(_.pass == "timed").toSeq
    val heapMb = Main.retainedHeapMb()
    val trackedEnd = Caches.trackedCount
    val storageMb = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1048576.0

    val metrics = ArrayBuffer.empty[(String, Double, String)]
    metrics ++= Outcomes.endToEnd(setup.map(_._1), setup.map(_._2), timed.map(_.time),
      timed.map(_.time.clientCpu).sum, timed.map(_.taskCpu).sum, timed.map(_.allocMb).sum,
      heapMb)
    metrics ++= Seq(
      ("caches.tracked_peak", trackedPeak.toDouble, "count"),
      ("caches.tracked_end", trackedEnd.toDouble, "count"),
      ("caches.release_s", timedRelease / passes, "s"),
      ("caches.storage_mb_after_release", storageMb, "MB"),
      ("jvm.gc_s", gcTimed, "s"),
      ("result.rows", timed.filter(_.ok).map(_.rows).sum.toDouble / passes, "count"))
    val famFull = Families.map { f =>
      f -> timed.filter(op => family(op.key) == f).map(_.secs).sum / passes }.toMap
    Families.foreach(f => metrics += ((s"family.$f.s", famFull(f), "s")))

    if (o.trace) {
      // one traced pass: the per-layer numbers and the tracing overhead
      val traceRec = new Tracer(spark, enabled = true)
      tracer = traceRec
      val order = rng.shuffle(o.keys)
      val t0 = System.nanoTime()
      val traced = order.map(runOp(_, "traced"))
      val tracedWall = (System.nanoTime() - t0) / 1e9
      traceRec.detach()
      metrics ++= Layers.metrics(traceRec, traced.map(_.id).toSet, o.cpus)
      metrics += (("trace.overhead_ratio",
        (tracedWall / traced.size) / (timedWall / timed.size), "ratio"))
      // the legacy measure: count() on the same keys, warm
      tracer = new Tracer(spark, enabled = false)
      val countSecs = order.map { key =>
        val t = System.nanoTime()
        try SparkEntry.queries(key)(spark, o.data).count()
        catch { case _: Throwable => () }
        val s = (System.nanoTime() - t) / 1e9
        release(spark)
        key -> s
      }
      Families.foreach { f =>
        val c = countSecs.filter(kv => family(kv._1) == f).map(_._2).sum
        metrics += ((s"bridge.$f.count_s", c, "s"))
        metrics += ((s"bridge.$f.pruned_share",
          if (famFull(f) > 0) 1.0 - c / famFull(f) else 0.0, "ratio"))
      }
      Layers.write(traceRec, o.out + ".trace.jsonl")
    }

    // canonical-hash check input: every key's result at the check scale
    o.checkDir.foreach { dir =>
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      o.keys.foreach { key =>
        try SparkEntry.queries(key)(spark, o.data).coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/$key")
        catch { case e: Throwable =>
          ops += QueryOp(nextId, key, "check", ok = false, 0, 0, 0, 0, -1, message(e)) }
        release(spark)
      }
      spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }

    val bad = ops.filterNot(_.ok).toSeq
    Outcome(ops.size, bad.map(op => s"${op.pass}:${op.key}" -> op.err),
      Outcomes.withDefaults(metrics.toSeq), ops.map(_.json).toSeq)
  }
}
