package perfbench

import java.nio.file.{Files, Paths}

/** One timed op: wall seconds and the client thread's CPU seconds. */
final case class OpTime(ok: Boolean, secs: Double, clientCpu: Double)

/** End-to-end metrics and the catalog of every per-layer metric. */
object Outcomes {

  /** Latency charged to a failed op: it misses every limit. */
  val FailedLatency = 1e6

  /** The end-to-end metrics are setup_s (the median of the set-up
    * repetitions' JVM CPU time), heap_retained_mb and alloc_mb_per_op;
    * the wall-clock and CPU-time ones are per-layer metrics, because on a
    * shared host they do not repeat within the bounds. `clientCpu`,
    * `taskCpu` and `allocMb` are the timed ops' CPU seconds of the client
    * thread (DataFrame construction, planning, job submission) and of the
    * Spark tasks, and the MB of heap the JVM allocated during them, which
    * client_cpu_per_op_s, executor_cpu_per_op_s and alloc_mb_per_op
    * spread over the ops; throughput counts
    * successful ops per second of op time (the untimed release and output
    * checks between ops excluded), and latency percentiles count a failed
    * op at FailedLatency. */
  def endToEnd(setupWall: Seq[Double], setupCpu: Seq[Double], ops: Seq[OpTime],
               clientCpu: Double, taskCpu: Double, allocMb: Double,
               heapMb: Double): Seq[(String, Double, String)] = {
    val lat = ops.map(op => if (op.ok) op.secs else FailedLatency)
    val nOk = ops.count(_.ok)
    Seq(
      ("setup_s", Stats.median(setupCpu), "s"),
      ("client_cpu_per_op_s", clientCpu / ops.size, "s"),
      ("executor_cpu_per_op_s", taskCpu / ops.size, "s"),
      ("heap_retained_mb", heapMb, "MB"),
      ("alloc_mb_per_op", allocMb / ops.size, "MB"),
      ("setup.wall_s", Stats.median(setupWall), "s"),
      ("throughput_ops_s", nOk / ops.map(_.secs).sum, "1/s"),
      ("latency_p50_s", Stats.pct(lat, 0.5), "s"),
      ("latency_p90_s", Stats.pct(lat, 0.9), "s"),
      ("failed_ratio", (ops.size - nOk).toDouble / ops.size, "ratio"))
  }

  /** Every per-layer metric a traced run reports, with its unit. A layer
    * a workload does not reach reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "setup.wall_s" -> "s", "throughput_ops_s" -> "1/s", "latency_p50_s" -> "s",
    "latency_p90_s" -> "s",
    "build.s" -> "s", "build.self_s" -> "s", "build.jobs" -> "count",
    "plan.analysis_s" -> "s", "plan.optimizer_s" -> "s", "plan.physical_s" -> "s",
    "plan.executions" -> "count",
    "exec.s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.tasks_failed" -> "count", "exec.task_s" -> "s",
    "exec.cpu_s" -> "s", "exec.gc_s" -> "s", "exec.sched_gap_s" -> "s",
    "exec.core_util" -> "ratio", "exec.straggler_s" -> "s",
    "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB",
    "exec.spill_mb" -> "MB", "exec.peak_exec_mem_mb" -> "MB",
    "scan.input_mb" -> "MB", "scan.input_rows" -> "count", "result.rows" -> "count",
    "write.output_mb" -> "MB", "write.output_rows" -> "count",
    "stream.batches" -> "count", "stream.trigger_s" -> "s", "stream.add_batch_s" -> "s",
    "stream.query_planning_s" -> "s", "stream.offset_commit_s" -> "s",
    "stream.state_rows" -> "count", "stream.state_mb" -> "MB",
    "stream.state_commit_s" -> "s",
    "caches.tracked_peak" -> "count", "caches.tracked_end" -> "count",
    "caches.release_s" -> "s", "caches.storage_mb_after_release" -> "MB",
    "registry.store_s" -> "s", "registry.bytes_written_mb" -> "MB",
    "registry.alias_set_s" -> "s", "registry.lineage_lines" -> "count",
    "registry.lineage_read_s_per_1k_lines" -> "s",
    "pipeline.steps" -> "count", "pipeline.process_s" -> "s",
    "pipeline.materialize_s" -> "s",
    "queue.submit_to_result_s" -> "s", "queue.inflight_max" -> "count",
    "queue.jobs_retained" -> "count",
    "serve.handle_s" -> "s", "serve.requests" -> "count", "temp.dirs_left" -> "count",
    "store_value_p50_s" -> "s", "get_value_p50_s" -> "s", "run_job_p50_s" -> "s",
    "workflow_process_p50_s" -> "s", "queue_job_p50_s" -> "s",
    "lineage_read_p50_s" -> "s", "lineage_read_p90_s" -> "s",
    "serve_request_p50_s" -> "s", "failed_ratio" -> "ratio",
    "jvm.gc_s" -> "s", "host.steal_s" -> "s", "trace.overhead_ratio" -> "ratio",
    "trace.uncovered_s" -> "s", "trace.uncovered_share" -> "ratio") ++
    QueryWorkload.Families.map(f => s"family.$f.s" -> "s") ++
    QueryWorkload.Families.flatMap(f =>
      Seq(s"bridge.$f.count_s" -> "s", s"bridge.$f.pruned_share" -> "ratio"))

  /** `ms` plus a 0 for every catalogued metric `ms` lacks. */
  def withDefaults(ms: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val have = ms.map(_._1).toSet
    ms ++ PerLayer.filterNot(p => have(p._1)).map { case (n, u) => (n, 0.0, u) }
  }
}

/** Per-layer numbers from one traced pass. Each op's root span has the
  * harness's phase spans as children (build, write, release, and the
  * kiara calls); Spark jobs, tasks and query-execution planning phases
  * are attributed to the op that was running when they were posted. */
object Layers {
  private val MB = 1048576.0

  def metrics(t: Tracer, ops: Set[Int], cpus: Int): Seq[(String, Double, String)] = {
    val spans = t.spans.filter(s => ops(s.op)).toSeq
    val jobs = t.jobs.filter(j => ops(j.op)).toSeq
    val tasks = t.tasks.filter(k => ops(k.op)).toSeq
    val execs = t.execs.filter(e => ops(e.op)).toSeq
    val prog = t.progress.filter(p => ops(p.op)).toSeq
    val roots = spans.filter(_.parent < 0)
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)

    var build, buildSelf, plan, exec, gap, uncovered, opTotal = 0.0
    val phase = scala.collection.mutable.Map("analysis" -> 0.0, "optimization" -> 0.0,
      "planning" -> 0.0)
    roots.foreach { r =>
      val ch = kids.getOrElse(r.id, Seq.empty)
      opTotal += r.dur
      uncovered += r.dur - Intervals.covered(ch.map(c => (c.start, c.end)), r.start, r.end)
      val opTasks = tasks.filter(_.op == r.op)
      val opJobs = jobs.filter(_.op == r.op)
      ch.filter(_.name == "build").foreach { b =>
        build += b.dur
        val jobIv = opJobs.filter(_.phase == "build").map(j => (j.start, j.end))
        buildSelf += b.dur - Intervals.covered(jobIv, b.start, b.end)
      }
      ch.filter(c => c.name == "write").foreach { w =>
        val planIv = execs.filter(_.op == r.op).flatMap(_.phases.toSeq).map { case (k, iv) =>
          val part = Intervals.covered(Seq(iv), w.start, w.end)
          if (phase.contains(k)) phase(k) += part
          iv
        }
        val p = Intervals.covered(planIv, w.start, w.end)
        plan += p
        exec += w.dur - p
        val taskIv = opTasks.filter(_.jobPhase == "write").map(k => (k.launch, k.finish))
        gap += w.dur - Intervals.covered(planIv ++ taskIv, w.start, w.end)
      }
    }
    val writeTaskSecs = tasks.filter(_.jobPhase == "write").map(_.runMs).sum / 1e3
    val straggler = tasks.groupBy(k => (k.op, k.stage)).values.map { ts =>
      val d = ts.map(k => k.finish - k.launch)
      (d.max - Stats.median(d)) / 1e3
    }.sum
    val lastState = prog.groupBy(_.query).values.map(_.last).toSeq
    Seq(
      ("build.s", build / 1e3, "s"),
      ("build.self_s", buildSelf / 1e3, "s"),
      ("build.jobs", jobs.count(_.phase == "build").toDouble, "count"),
      ("plan.analysis_s", phase("analysis") / 1e3, "s"),
      ("plan.optimizer_s", phase("optimization") / 1e3, "s"),
      ("plan.physical_s", phase("planning") / 1e3, "s"),
      ("plan.executions", execs.size.toDouble, "count"),
      ("exec.s", exec / 1e3, "s"),
      ("exec.jobs", jobs.count(_.phase == "write").toDouble, "count"),
      ("exec.stages", tasks.map(k => (k.op, k.stage)).distinct.size.toDouble, "count"),
      ("exec.tasks", tasks.size.toDouble, "count"),
      ("exec.tasks_failed", tasks.count(_.failed).toDouble, "count"),
      ("exec.task_s", tasks.map(_.runMs).sum / 1e3, "s"),
      ("exec.cpu_s", tasks.map(_.cpuNs).sum / 1e9, "s"),
      ("exec.gc_s", tasks.map(_.gcMs).sum / 1e3, "s"),
      ("exec.sched_gap_s", gap / 1e3, "s"),
      ("exec.core_util", if (exec > 0) writeTaskSecs / (exec / 1e3 * cpus) else 0.0, "ratio"),
      ("exec.straggler_s", straggler, "s"),
      ("exec.shuffle_write_mb", tasks.map(_.shWrite).sum / MB, "MB"),
      ("exec.shuffle_read_mb", tasks.map(_.shRead).sum / MB, "MB"),
      ("exec.spill_mb", tasks.map(_.spill).sum / MB, "MB"),
      ("exec.peak_exec_mem_mb", if (tasks.isEmpty) 0.0 else tasks.map(_.peakMem).max / MB, "MB"),
      ("scan.input_mb", tasks.map(_.inBytes).sum / MB, "MB"),
      ("scan.input_rows", tasks.map(_.inRecs).sum.toDouble, "count"),
      ("write.output_mb", tasks.map(_.outBytes).sum / MB, "MB"),
      ("write.output_rows", tasks.map(_.outRecs).sum.toDouble, "count"),
      ("stream.batches", prog.size.toDouble, "count"),
      ("stream.trigger_s", prog.map(_.trigger).sum / 1e3, "s"),
      ("stream.add_batch_s", prog.map(_.addBatch).sum / 1e3, "s"),
      ("stream.query_planning_s", prog.map(_.planning).sum / 1e3, "s"),
      ("stream.offset_commit_s", prog.map(_.offsets).sum / 1e3, "s"),
      ("stream.state_rows", lastState.map(_.stateRows).sum.toDouble, "count"),
      ("stream.state_mb", lastState.map(_.stateBytes).sum / MB, "MB"),
      ("stream.state_commit_s", prog.map(_.stateCommitMs).sum / 1e3, "s"),
      ("trace.uncovered_s", uncovered / 1e3, "s"),
      ("trace.uncovered_share", if (opTotal > 0) uncovered / opTotal else 0.0, "ratio"))
  }

  /** Per-op coverage rows plus every raw record, written once at exit. */
  def write(t: Tracer, path: String): Unit = {
    def iv(a: Double, b: Double) = Json.arr(Seq(Json.num(a), Json.num(b)))
    val kids = t.spans.filter(_.parent >= 0).groupBy(_.parent)
    val lines = t.spans.map { s =>
      val ch = kids.getOrElse(s.id, Seq.empty).toSeq
      val self = s.dur - Intervals.covered(ch.map(c => (c.start, c.end)), s.start, s.end)
      Json.obj(Seq("type" -> Json.str("span"), "op" -> s.op.toString,
        "name" -> Json.str(s.name), "id" -> s.id.toString, "parent" -> s.parent.toString,
        "ms" -> iv(s.start, s.end), "self_ms" -> Json.num(self)))
    } ++ t.jobs.map { j =>
      Json.obj(Seq("type" -> Json.str("job"), "op" -> j.op.toString,
        "phase" -> Json.str(j.phase), "job" -> j.jobId.toString, "ms" -> iv(j.start, j.end)))
    } ++ t.execs.map { e =>
      Json.obj(Seq("type" -> Json.str("execution"), "op" -> e.op.toString,
        "func" -> Json.str(e.func), "phases" -> Json.obj(e.phases.toSeq.map {
          case (k, (a, b)) => k -> iv(a, b) })))
    } ++ t.progress.map { p =>
      Json.obj(Seq("type" -> Json.str("stream_progress"), "op" -> p.op.toString,
        "query" -> Json.str(p.query), "trigger_ms" -> p.trigger.toString,
        "state_rows" -> p.stateRows.toString))
    }
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
