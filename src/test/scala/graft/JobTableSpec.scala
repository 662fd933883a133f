package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.registries.{Jsonl, LineageRegistry}
import graft.sources.Export

/** One job table per context root: every `GraftApi` on a root answers
  * job lookups from the same lineage log (read whole on each lookup, so
  * other writers' appends show up) and draws run ids from one sequence,
  * so no two instances, and no restart, issue the same id. */
class JobTableSpec extends SparkTestBase {
  import spark.implicits._

  private def rootWithInput(): (String, GraftApi) = {
    val root = Export.tempDir("graft_jobtab_").toString
    val api = new GraftApi(spark, root)
    api.storeValue("nums", Seq(1L, 2L, 3L).toDF("n"), Some("in"))
    (root, api)
  }

  private def number(runId: String): Long = runId.substring(runId.lastIndexOf('-') + 1).toLong

  test("two GraftApis on one root interleave runJob, queueJob and runBatch: distinct ids, own records") {
    val (root, a) = rootWithInput()
    val b = new GraftApi(spark, root)
    a.registerOperation("jt_gt1", df => df.filter(col("n") > 1))
    a.registerOperation("jt_gt2", df => df.filter(col("n") > 2))
    val spec = Paths.get(root, "jt_spec.json")
    Files.write(spec, """{"pipeline_name": "jt", "steps": [{"name": "s", "op": "jt_gt1", "input": "x"}],
      | "inputs": {"x": "in"}}""".stripMargin.getBytes("UTF-8"))
    val r1 = a.runJob("jt_gt1", "in")._1
    val r2 = b.runJob("jt_gt2", "in")._1
    val q1 = a.queueJob("jt_gt2", "in")
    val q2 = b.queueJob("jt_gt1", "in")
    val r3 = b.runJob("jt_gt1", "in")._1
    val batches = Seq(a.runBatch(spec.toString)._1, b.runBatch(spec.toString)._1)
    val r4 = a.runJob("jt_gt2", "in")._1
    assert(a.getJobResult(q1).count() == 1 && b.getJobResult(q2).count() == 2)
    val jobs = Seq(r1 -> "jt_gt1", r2 -> "jt_gt2", q1 -> "jt_gt2", q2 -> "jt_gt1",
      r3 -> "jt_gt1", r4 -> "jt_gt2")
    val ids = jobs.map(_._1) ++ batches
    assert(ids.distinct.size == ids.size, ids)
    // one sequence: the numbers are distinct across the id formats too
    assert(ids.map(number).distinct.size == ids.size, ids)
    for ((id, op) <- jobs; api <- Seq(a, b))
      assert(api.getJobRecord(id).map(_.step).contains(op), id)
    assert(a.listJobRecordIds == jobs.map(_._1).sorted)
    assert(b.jobsInfo.map(j => j.jobId -> j.operation) == jobs.sortBy(_._1))
  }

  test("a fresh instance's workflow process writes a run id not already in the log") {
    val (root, a) = rootWithInput()
    a.registerOperation("jt_keep", df => df)
    val wf = a.createWorkflow("jtwf")
    wf.addStep("k", "jt_keep", "docs").setInput("docs", "in")
    wf.process()
    wf.save()
    val before = a.lineage.records.map(_.run).toSet
    val b = new GraftApi(spark, root)
    val wf2 = b.getWorkflow("jtwf")
    wf2.setInput("docs", "in")
    wf2.process()
    val runs = new LineageRegistry(root).records.map(_.run).filter(_.startsWith("wfs-jtwf-"))
    assert(runs.size == 2 && runs.distinct.size == 2, runs)
    assert(!before.contains(runs.last), runs)
  }

  test("lines appended by another writer show up in an existing instance; a partial line waits") {
    val (root, api) = rootWithInput()
    api.registerOperation("jt_id", df => df)
    val (j1, _) = api.runJob("jt_id", "in")
    assert(api.jobsInfo.map(_.jobId) == Seq(j1))
    val log = Paths.get(root, "lineage.jsonl")
    def append(s: String): Unit =
      Files.write(log, s.getBytes("UTF-8"), StandardOpenOption.APPEND)
    // another writer (another process, a hand append) bypasses this JVM's registries
    val ext = Jsonl.line("run" -> "job-500", "step" -> "ext_mid", "inputs" -> Seq("in"),
      "schema" -> "struct<n:bigint>")
    append(ext + "\n")
    assert(api.getJobRecord("job-500").map(_.step).contains("ext_mid"))
    assert(api.jobsInfo.map(_.jobId) == Seq(j1, "job-500").sorted)
    val wfLine = Jsonl.line("run" -> "wfs-ext-501", "step" -> "ext_out",
      "inputs" -> Seq("ext_mid"), "schema" -> "struct<n:bigint>")
    val (head, rest) = wfLine.splitAt(wfLine.length / 2)
    append(head)
    assert(api.valueLineage("ext_out").isEmpty)
    append(rest + "\n")
    assert(api.valueLineage("ext_out").map(n => n.run -> n.step) ==
      Seq("wfs-ext-501" -> "ext_out", "job-500" -> "ext_mid"))
    // the sequence moves past the numbers other writers used
    val (j2, _) = api.runJob("jt_id", "in")
    assert(number(j2) > 501, j2)
    assert(api.jobsInfo.map(_.jobId) == Seq(j1, j2, "job-500").sorted)
    // a log replaced by a shorter one is read again from the start
    Files.write(log, (ext + "\n").getBytes("UTF-8"))
    assert(api.listJobRecordIds == Seq("job-500"))
    assert(api.getJobRecord(j1).isEmpty)
    // and so is one replaced by a longer one: no record of the old file
    // survives, and every line of the new one is seen
    val longer = (1 to 8).map(i => Jsonl.line("run" -> s"job-${600 + i}", "step" -> s"new_$i",
      "inputs" -> Seq("in"), "schema" -> "struct<n:bigint>"))
    Files.write(log, longer.mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(api.listJobRecordIds == (601 to 608).map(i => s"job-$i"))
    assert(api.getJobRecord("job-601").map(_.step).contains("new_1"))
    assert(api.getJobRecord("job-500").isEmpty)
  }

  test("queued jobs of every instance share one pool of four graft-job threads") {
    val apis = (1 to 6).map(_ => rootWithInput()._2)
    apis.head.registerOperation("jt_pool", df => df)
    apis.map(api => api -> api.queueJob("jt_pool", "in"))
      .foreach { case (api, id) => assert(api.getJobResult(id).count() == 3) }
    val threads = Thread.getAllStackTraces.keySet.asScala.count(_.getName == "graft-job")
    assert(threads <= 4, s"$threads graft-job threads")
  }
}
