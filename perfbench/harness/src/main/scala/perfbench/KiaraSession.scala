package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Caches, GraftApi, Serve}

/** One long-lived kiara context (`GraftApi` on a fresh root) driven by one
  * closed-loop client through a seeded mix of registry, job, workflow,
  * queue, lineage and Serve calls. Every round runs the same multiset of
  * op types in a new seeded order, with the same arguments: one store and
  * one get per input table, and each document op once (`JobOp` by
  * `runJob`, the rest queued). The seed picks the values, slices and
  * order, so runs on different seeds do the same work on different values.
  * Every op is followed by an untimed `Caches.release()` and
  * `clearCache()`. Passes: three set-up repetitions (a fresh context
  * importing the seeded inputs), one untimed warm-up round, the timed
  * rounds `--seconds` buys, then, with `--trace 1`, one traced round. */
object KiaraSession {

  val Round: Seq[String] = Seq("store", "store", "store", "get", "get", "get", "run_job",
    "run_manifest", "workflow", "queue", "lineage_job", "lineage_value", "lineage_jobs",
    "serve_cli", "serve_query", "alias")

  /** Timed rounds for `seconds`: about one per `RoundSecs` (a round's wall
    * time with its checks on 4 vCPUs), at least three, so that the median
    * over rounds sets aside one odd round, such as the first after the
    * warm-up, which still runs colder. The count depends on `seconds`
    * alone. */
  val RoundSecs = 10.0
  def timedRounds(seconds: Double): Int = math.max(3, math.round(seconds / RoundSecs).toInt)

  private val DocOps = Seq("text.clean", "text.token_count", "text.quality",
    "text.langid", "dedup.simhash")
  private val JobOp = "text.quality"

  /** One op of a round: its type, the input table a store or get works on,
    * and the document ops a job or queue batch runs. */
  final case class Step(kind: String, table: String = "", docOps: Seq[String] = Nil) {
    /** The op of every round that does the same work. */
    def group: String = s"$kind:$table"
  }

  /** A typical round's total of `f` (CPU seconds, MB allocated), scaled
    * to `ops.size` ops: each group's median over the rounds times the
    * group's size. A burst of host contention, a garbage collection or
    * a colder round moves single samples, not medians. */
  def robustTotal(ops: Seq[KOp], f: KOp => Double): Double =
    ops.groupBy(_.group).values.map(g => Stats.median(g.map(f)) * g.size).sum

  /** Rows plus an order-independent hash of every column. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(xxhash64(df.columns.map(col): _*)
      .bitwiseAND(lit(4294967295L))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  final case class KOp(id: Int, kind: String, group: String, pass: String, ok: Boolean,
                       secs: Double, clientCpu: Double, taskCpu: Double, allocMb: Double,
                       err: String) {
    def time: OpTime = OpTime(ok, secs, clientCpu)
    def json: String = Json.obj(Seq(
      "op" -> id.toString, "kind" -> Json.str(kind), "group" -> Json.str(group),
      "pass" -> Json.str(pass),
      "ok" -> ok.toString, "secs" -> Json.num(secs), "client_cpu" -> Json.num(clientCpu),
      "task_cpu" -> Json.num(taskCpu), "alloc_mb" -> Json.num(allocMb),
      "error" -> (if (err == null) "null" else Json.str(err))))
  }

  def run(spark0: SparkSession, o: Opts): Outcome = {
    val rng = new Random(o.seed)
    val base = s"${o.work}/kiara"
    Main.deleteTree(Paths.get(base))
    val cpus = o.cpus

    // inputs: seeded samples of the input tables, written once
    val inputs = Seq("documents" -> "docs", "orders" -> "orders", "events" -> "events")
    inputs.foreach { case (table, id) =>
      val df = spark0.read.parquet(s"${o.data}/$table.parquet")
      df.filter(pmod(xxhash64(col(df.columns.head), lit(o.seed)), lit(10)) < 3)
        .coalesce(1).write.parquet(s"$base/inputs/$id")
    }

    var spark = spark0
    var api: GraftApi = null
    var root = ""
    val setup = (1 to 3).map { rep =>
      val t0 = System.nanoTime()
      val c0 = Main.cpuSeconds()
      spark = spark0.newSession()
      root = s"$base/context$rep"
      api = new GraftApi(spark, root)
      inputs.foreach { case (_, id) => api.importValue(id, "parquet", s"$base/inputs/$id") }
      api.registerValueAlias("docs", "raw_docs")
      ((System.nanoTime() - t0) / 1e9, Main.cpuSeconds() - c0)
    }
    val serve = new Serve.Session(spark)

    // what every stored value must read back as
    val expected = mutable.Map.empty[String, (Long, Long)]
    inputs.foreach { case (_, id) =>
      expected(id) = fingerprint(spark.read.parquet(s"$base/inputs/$id")) }
    // the stored slices of each input table, as (id, alias)
    val slices = inputs.map(_._2 -> ArrayBuffer.empty[(String, String)]).toMap
    val allValues = ArrayBuffer("docs", "orders", "events")
    val jobIds = ArrayBuffer.empty[String]
    val wfSteps = ArrayBuffer.empty[(String, String)] // (last step, leaf value)

    val ops = ArrayBuffer.empty[KOp]
    val failures = ArrayBuffer.empty[(String, String)]
    var tracer = new Tracer(spark, enabled = false)
    val taskCpu = new TaskCpuMeter(spark0)
    var nextId = 0
    var trackedPeak = 0
    var releaseSecs = 0.0
    // layer accumulators (timed rounds only)
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var timing = false
    def add(k: String, v: Double): Unit = if (timing) acc(k) += v
    def time[T](k: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally add(k, (System.nanoTime() - t0) / 1e9)
    }
    def pick[T](xs: collection.Seq[T]): T = xs(rng.nextInt(xs.size))
    /** A stored slice of `table`, by id or alias (the table itself before
      * the first store). */
    def pickSlice(table: String): String =
      if (slices(table).isEmpty) table
      else { val (id, alias) = pick(slices(table)); if (rng.nextBoolean()) alias else id }
    def pickDocs: String = pickSlice("docs")
    def check(cond: Boolean, what: => String): Unit =
      if (!cond) throw new IllegalStateException(what)
    def lineageLines: Long = {
      val p = Paths.get(s"$root/lineage.jsonl")
      if (!Files.exists(p)) 0L
      else { val s = Files.lines(p); try s.count() finally s.close() }
    }
    def treeBytes: Long = {
      val s = Files.walk(Paths.get(root))
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

    // Each op returns its output check, which runs after the op, untimed.
    type Check = () => Unit
    val noCheck: Check = () => ()

    /** Store a seeded slice of an input table under a new id and alias;
      * the read-back must equal the slice. */
    def storeOp(n: Int, src: String): Check = {
      val id = s"v$n"
      val alias = s"a$n"
      val df = tracer.span("build") {
        val in = api.getValue(src)
        in.filter(pmod(xxhash64(col(in.columns.head), lit(n.toLong)), lit(4)) =!= 0)
      }
      time("registry.store_s")(tracer.span("registry.store")(api.storeValue(id, df, Some(alias))))
      add("registry.store_n", 1)
      () => {
        val want = fingerprint(df)
        expected(id) = want
        val got = fingerprint(api.getValue(alias))
        check(got == want, s"read-back of $id is $got, stored $want")
        allValues += id
        slices(src) += ((id, alias))
      }
    }

    def getOp(table: String): Check = {
      val ref = pickSlice(table)
      val df = tracer.span("build")(api.getValue(ref))
      val obs = tracer.span("write")(QueryWorkload.materialize(df))
      () => {
        val rows = obs.get("n").asInstanceOf[Long]
        val id = if (allValues.contains(ref)) ref else api.aliases.resolve(ref).getOrElse(ref)
        check(rows == expected(id)._1, s"$ref read back $rows rows, stored ${expected(id)._1}")
      }
    }

    def runJobOp(n: Int, docOp: Option[String]): Check = {
      val (jobId, out) = docOp match {
        case Some(op) => tracer.span("build")(api.runJob(op, pickDocs))
        case None =>
          tracer.span("build")(api.runManifest("table.sample",
            Map("fraction" -> "0.5", "seed" -> n.toString), pickSlice("orders")))
      }
      val id = s"j$n"
      time("registry.store_s")(tracer.span("registry.store")(api.storeValue(id, out)))
      add("registry.store_n", 1)
      jobIds += jobId
      () => {
        expected(id) = fingerprint(out)
        check(fingerprint(api.getValue(id)) == expected(id), s"read-back of job output $id differs")
        allValues += id
      }
    }

    def workflowOp(n: Int): Check = {
      val leaf = pickDocs
      val wf = api.createWorkflow(s"wf$n")
      wf.addStep(s"w${n}_clean", "text.clean", leaf)
        .addStep(s"w${n}_tok", "text.token_count", s"w${n}_clean")
      wf.setInput(leaf, leaf)
      time("pipeline.process_s")(tracer.span("pipeline.process")(wf.process()))
      add("pipeline.steps", 2)
      time("pipeline.materialize_s")(tracer.span("write") {
        wf.currentOutputs.values.foreach(QueryWorkload.materialize)
      })
      tracer.span("registry.save")(wf.save())
      () => wfSteps += ((s"w${n}_tok", leaf))
    }

    def queueOp(docOps: Seq[String]): Check = {
      val t0 = System.nanoTime()
      val ids = tracer.span("queue.submit") {
        docOps.map(op => api.queueJob(op, pickDocs))
      }
      val inflight = ids.count(id => Set("queued", "running")(api.getJob(id).state))
      if (timing) acc("queue.inflight_max") = math.max(acc("queue.inflight_max"), inflight)
      tracer.span("write") {
        ids.foreach { id =>
          QueryWorkload.materialize(api.getJobResult(id))
          add("queue.submit_to_result_s", (System.nanoTime() - t0) / 1e9)
          add("queue.jobs", 1)
        }
      }
      jobIds ++= ids
      () => ids.foreach(id =>
        check(api.getJob(id).state == "success", s"queued $id did not succeed"))
    }

    def lineageOp(kind: String): Check = {
      val lines = lineageLines
      val t0 = System.nanoTime()
      tracer.span("registry.lineage") {
        kind match {
          case "lineage_job" =>
            val id = if (jobIds.isEmpty) "job-0" else jobIds(rng.nextInt(math.min(jobIds.size, 4)))
            check(jobIds.isEmpty || api.getJobRecord(id).isDefined, s"no record for $id")
          case "lineage_value" =>
            if (wfSteps.nonEmpty) {
              val (step, leaf) = pick(wfSteps)
              val up = api.valueLineage(step)
              check(up.exists(_.inputs.contains(leaf)), s"lineage of $step does not reach $leaf")
            }
          case _ =>
            val info = api.jobsInfo
            check(info.size >= jobIds.size, s"jobsInfo lists ${info.size} of ${jobIds.size} jobs")
        }
      }
      add("lineage.secs", (System.nanoTime() - t0) / 1e9)
      add("lineage.klines", lines / 1000.0)
      noCheck
    }

    def serveOp(kind: String): Check = {
      val req =
        if (kind == "serve_cli")
          s"""{"endpoint":"cli","args":["jobs",${Json.str(root)},"list"]}"""
        else
          s"""{"endpoint":"query","args":["q1_agg",${Json.str(o.data)},"5"]}"""
      val resp = time("serve.handle_s")(tracer.span("serve.handle")(serve.handle(req)))
      add("serve.requests", 1)
      () => check(!resp.contains("\"error\"") && !resp.matches(""".*"stderr":"[^"].*"""),
        s"serve $kind answered ${resp.take(200)}")
    }

    def aliasOp(n: Int): Check = {
      val v = pick(allValues)
      time("registry.alias_set_s")(tracer.span("registry.alias")(api.registerValueAlias(v, s"al$n")))
      add("registry.alias_n", 1)
      () => check(api.aliases.resolve(s"al$n").contains(v), s"alias al$n does not resolve to $v")
    }

    /** Round in a seeded order: each input table stored and read once,
      * each document op run once (`JobOp` by `runJob`, at most
      * `min(cpus, 4)` of the rest queued in one batch). */
    def round(): Seq[Step] = {
      val stores = rng.shuffle(inputs.map(_._2)).iterator
      val gets = rng.shuffle(inputs.map(_._2)).iterator
      val queued = rng.shuffle(DocOps.filter(_ != JobOp)).take(math.min(cpus, 4))
      rng.shuffle(Round).map {
        case "store" => Step("store", stores.next())
        case "get" => Step("get", gets.next())
        case "run_job" => Step("run_job", docOps = Seq(JobOp))
        case "queue" => Step("queue", docOps = queued)
        case k => Step(k)
      }
    }

    def runOp(step: Step, pass: String): KOp = {
      val kind = step.kind
      val id = nextId
      nextId += 1
      var err: String = null
      var secs = 0.0
      var clientCpu = 0.0
      var allocMb = 0.0
      var verify = noCheck
      tracer.op(id, kind) {
        val a0 = Main.allocatedMb()
        val d0 = Main.threadCpuSeconds()
        val t0 = System.nanoTime()
        try verify = kind match {
          case "store" => storeOp(id, step.table)
          case "get" => getOp(step.table)
          case "run_job" => runJobOp(id, step.docOps.headOption)
          case "run_manifest" => runJobOp(id, None)
          case "workflow" => workflowOp(id)
          case "queue" => queueOp(step.docOps)
          case "serve_cli" | "serve_query" => serveOp(kind)
          case "alias" => aliasOp(id)
          case k => lineageOp(k)
        } catch { case e: Throwable => err = QueryWorkload.message(e) }
        secs = (System.nanoTime() - t0) / 1e9
        clientCpu = Main.threadCpuSeconds() - d0
        allocMb = Main.allocatedMb() - a0
        trackedPeak = math.max(trackedPeak, Caches.trackedCount)
        val r0 = System.nanoTime()
        tracer.span("release")(QueryWorkload.release(spark))
        releaseSecs += (System.nanoTime() - r0) / 1e9
      }
      val opTaskCpu = taskCpu.take()
      if (err == null) tracer.outside(taskCpu.untimed {
        try verify() catch { case e: Throwable => err = QueryWorkload.message(e) }
        QueryWorkload.release(spark)
      })
      val op = KOp(id, kind, step.group, pass, err == null, secs, clientCpu, opTaskCpu, allocMb, err)
      ops += op
      if (err != null) failures += ((s"$pass:$kind#$id", err))
      op
    }

    round().foreach(runOp(_, "warmup"))
    System.gc()
    val gc0 = Main.gcSeconds()
    val bytes0 = treeBytes
    val timedStart = System.nanoTime()
    val rounds = timedRounds(o.seconds)
    timing = true
    releaseSecs = 0.0
    (1 to rounds).foreach(_ => round().foreach(runOp(_, "timed")))
    timing = false
    val timedWall = (System.nanoTime() - timedStart) / 1e9
    val timedRelease = releaseSecs
    val gcTimed = Main.gcSeconds() - gc0
    val timed = ops.filter(_.pass == "timed").toSeq

    // every job id must have a lineage record
    jobIds.foreach { id =>
      if (api.getJobRecord(id).isEmpty) failures += ((s"check:$id", "no lineage record"))
    }
    val heapMb = Main.retainedHeapMb()
    val storageMb = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1048576.0

    def p(kinds: Set[String], q: Double): Double =
      Stats.pctOr0(timed.filter(op => kinds(op.kind)).map(op =>
        if (op.ok) op.secs else Outcomes.FailedLatency), q)
    def mean(k: String, n: String): Double = if (acc(n) > 0) acc(k) / acc(n) else 0.0
    val lineageKinds = Set("lineage_job", "lineage_value", "lineage_jobs")
    val metrics = ArrayBuffer.empty[(String, Double, String)]
    metrics ++= Outcomes.endToEnd(setup.map(_._1), setup.map(_._2), timed.map(_.time),
      robustTotal(timed, _.clientCpu), robustTotal(timed, _.taskCpu),
      robustTotal(timed, _.allocMb), heapMb)
    metrics ++= Seq(
      ("store_value_p50_s", p(Set("store"), 0.5), "s"),
      ("get_value_p50_s", p(Set("get"), 0.5), "s"),
      ("run_job_p50_s", p(Set("run_job", "run_manifest"), 0.5), "s"),
      ("workflow_process_p50_s", p(Set("workflow"), 0.5), "s"),
      ("queue_job_p50_s", p(Set("queue"), 0.5), "s"),
      ("lineage_read_p50_s", p(lineageKinds, 0.5), "s"),
      ("lineage_read_p90_s", p(lineageKinds, 0.9), "s"),
      ("serve_request_p50_s", p(Set("serve_cli", "serve_query"), 0.5), "s"),
      ("registry.store_s", mean("registry.store_s", "registry.store_n"), "s"),
      ("registry.bytes_written_mb", (treeBytes - bytes0) / 1048576.0, "MB"),
      ("registry.alias_set_s", mean("registry.alias_set_s", "registry.alias_n"), "s"),
      ("registry.lineage_lines", lineageLines.toDouble, "count"),
      ("registry.lineage_read_s_per_1k_lines",
        if (acc("lineage.klines") > 0) acc("lineage.secs") / acc("lineage.klines") else 0.0, "s"),
      ("pipeline.steps", acc("pipeline.steps"), "count"),
      ("pipeline.process_s", acc("pipeline.process_s"), "s"),
      ("pipeline.materialize_s", acc("pipeline.materialize_s"), "s"),
      ("queue.submit_to_result_s", mean("queue.submit_to_result_s", "queue.jobs"), "s"),
      ("queue.inflight_max", acc("queue.inflight_max"), "count"),
      ("queue.jobs_retained", api.jobsInfo.size.toDouble, "count"),
      ("serve.handle_s", mean("serve.handle_s", "serve.requests"), "s"),
      ("serve.requests", acc("serve.requests"), "count"),
      ("caches.tracked_peak", trackedPeak.toDouble, "count"),
      ("caches.tracked_end", Caches.trackedCount.toDouble, "count"),
      ("caches.release_s", timedRelease / rounds, "s"),
      ("caches.storage_mb_after_release", storageMb, "MB"),
      ("jvm.gc_s", gcTimed, "s"))

    if (o.trace) {
      val traceRec = new Tracer(spark, enabled = true)
      tracer = traceRec
      val t0 = System.nanoTime()
      val traced = round().map(runOp(_, "traced"))
      val tracedWall = (System.nanoTime() - t0) / 1e9
      traceRec.detach()
      metrics ++= Layers.metrics(traceRec, traced.map(_.id).toSet, cpus)
      metrics += (("trace.overhead_ratio",
        (tracedWall / traced.size) / (timedWall / timed.size), "ratio"))
      Layers.write(traceRec, o.out + ".trace.jsonl")
    }
    Outcome(ops.size, failures.toSeq, Outcomes.withDefaults(metrics.toSeq),
      ops.map(_.json).toSeq)
  }
}
