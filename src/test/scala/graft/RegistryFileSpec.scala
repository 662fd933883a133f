package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import graft.plans.Pipeline.StepRecord
import graft.registries.{AliasRegistry, LineageRegistry, MetadataRegistry, PipelineRegistry, RegistryFile, WorkflowRegistry}
import graft.registries.WorkflowRegistry.OpStep
import graft.sources.Export

/** The registries' one file layer: locked appends, temp-file-safe
  * rewrites, a guard against hand-copied file writes, and the on-disk
  * format of every registry file (committed fixtures, see
  * [[RegistryFixtures]]). */
class RegistryFileSpec extends SparkTestBase {
  import RegistryFixtures._

  private def tempRoot(prefix: String): String = Export.tempDir(prefix).toString

  private def listNames(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString).toSeq.sorted finally s.close()
  }

  test("concurrent recordRun/appendRaw of records over 8 KiB keep every lineage line whole") {
    val root = tempRoot("graft_linconc_")
    // two registries on one root: the lock belongs to the file, not the instance
    val regs = Seq(new LineageRegistry(root), new LineageRegistry(root))
    val schema = "struct<" + (1 to 1200).map(i => s"c$i:string").mkString(",") + ">"
    assert(schema.length > 8192)
    val (threads, perThread) = (4, 40)
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val work = (0 until threads).map { t =>
        Future {
          (0 until perThread).foreach { i =>
            val reg = regs(i % 2)
            if (i % 2 == 0)
              reg.recordRun(s"run-$t-$i", Seq(StepRecord(s"a-$t-$i", Seq("in"), schema),
                StepRecord(s"b-$t-$i", Seq(s"a-$t-$i"), schema)))
            else
              reg.appendRaw(
                s"""{"run":"raw-$t-$i","step":"r-$t-$i","inputs":["in"],"schema":"$schema"}""")
          }
        }
      }
      Await.result(Future.sequence(work), 5.minutes)
    } finally pool.shutdown()
    val appended = threads * (perThread / 2 * 2 + perThread / 2)
    val recs = regs.head.records
    assert(regs.head.lines.size == appended)
    assert(recs.size == appended, "a torn line was dropped by records")
    assert(recs.forall(_.schema == schema))
    // a run's records land as one append: they stay adjacent
    recs.sliding(2).foreach {
      case Seq(a, b) if a.step.startsWith("a-") =>
        assert(b.run == a.run && b.step == "b" + a.step.drop(1))
      case _ =>
    }
  }

  test("a failed table rewrite throws and leaves no temp file behind") {
    // a non-empty directory where the table file belongs: the move fails
    def blocked(root: String, file: String): Unit = {
      val d = Paths.get(root, file)
      Files.createDirectories(d)
      Files.write(d.resolve("keep"), Array[Byte](1))
    }
    def failsClean(root: String)(call: => Unit): Unit = {
      intercept[java.io.IOException](call)
      val tmps = listNames(Paths.get(root)).filter(_.endsWith(".tmp"))
      assert(tmps.isEmpty, s"temp files left in $root: $tmps")
    }

    val r0 = tempRoot("graft_tmp_table_")
    blocked(r0, "t.properties")
    failsClean(r0)(new RegistryFile.Table(Paths.get(r0, "t.properties")).rewrite(Seq("a=b")))

    val r1 = tempRoot("graft_tmp_alias_")
    blocked(r1, "aliases.properties")
    failsClean(r1)(new AliasRegistry(r1).set("a", "v1"))

    val r2 = tempRoot("graft_tmp_wf_")
    val wf2 = new WorkflowRegistry(r2, new LineageRegistry(r2))
    blocked(r2, "workflows.properties")
    failsClean(r2)(wf2.registerOps("w", Seq(OpStep("s", "op", "in"))))

    val r3 = tempRoot("graft_tmp_wfalias_")
    val wf3 = new WorkflowRegistry(r3, new LineageRegistry(r3))
    wf3.registerOps("w", Seq(OpStep("s", "op", "in")))
    blocked(r3, "workflow_aliases.properties")
    failsClean(r3)(wf3.setAlias("al", "w"))

    val r4 = tempRoot("graft_tmp_pipe_")
    val pipes = new PipelineRegistry(r4)
    blocked(r4, "pipelines.properties")
    failsClean(r4)(pipes.put("p", Seq(OpStep("s", "op", "in"))))
    failsClean(r4)(pipes.remove("p"))

    val base = tempRoot("graft_tmp_ctx_")
    val contexts = new GraftContexts(spark, base)
    blocked(base, "active_context")
    failsClean(base)(contexts.setActiveContext("c1"))
  }

  test("registry file writes go through RegistryFile only") {
    val main = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(main), s"run from the repo root (cwd: ${Paths.get("").toAbsolutePath})")
    val registries = listNames(main.resolve("registries"))
      .filterNot(_ == "RegistryFile.scala").map(n => main.resolve("registries").resolve(n))
    val files = registries ++
      Seq("WorkflowSession.scala", "GraftContexts.scala", "GraftApi.scala").map(main.resolve)
    val hits = for {
      f <- files
      token <- Seq("StandardOpenOption.APPEND", "ATOMIC_MOVE")
      if Files.readString(f).contains(token)
    } yield s"${main.relativize(f)}: $token"
    assert(hits.isEmpty, s"append and rewrite registry files through RegistryFile.Log/Table: $hits")
  }

  test("JSON outside Spark is read through Jsonl only: no string regex, no Spark-job spec reader") {
    val main = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(main), s"run from the repo root (cwd: ${Paths.get("").toAbsolutePath})")
    val files = {
      val s = Files.walk(main)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq finally s.close()
    }
    assert(files.size > 10)
    val hits = for {
      f <- files
      token <- Seq("""[^"\\]|\\.""", """option("multiLine"""")
      if Files.readString(f).contains(token)
    } yield s"${main.relativize(f)}: $token"
    assert(hits.isEmpty, s"read JSON with graft.registries.Jsonl: $hits")
  }

  /** A context root holding the committed fixture files. */
  private def fixtureRoot(): String = {
    val root = tempRoot("graft_regfx_")
    RegistryFiles.foreach { f =>
      val in = getClass.getResourceAsStream(s"/$Dir/$f")
      assert(in != null, s"missing fixture $f")
      try Files.copy(in, Paths.get(root, f)) finally in.close()
    }
    root
  }

  test("a fresh GraftApi reads every registry file an earlier build wrote") {
    val root = fixtureRoot()
    val api = new GraftApi(spark, root)

    assert(api.aliases.list == Seq("customers" -> "v-cust-1", "raw_docs" -> "v-docs-2"))

    assert(api.workflows.list == Seq("audit", "ingest"))
    assert(api.listWorkflowAliasNames == Seq("prod", "prod2", "qa"))
    assert(api.workflows.describe("prod") == IngestSteps)
    assert(api.workflows.describe("qa") == AuditSteps)
    assert(api.workflowInfo("prod2").aliases == Seq("prod", "prod2"))

    assert(api.pipelines.list == Seq("pipeline.regfx_pair", "pipeline.regfx_score"))
    assert(api.pipelines.describe("pipeline.regfx_score") == ScoreSteps)
    // re-registered as operations by the constructor
    assert(api.listPipelineIds("regfx").sorted == Seq("pipeline.regfx_pair", "pipeline.regfx_score"))
    assert(api.getPipelineStructure("pipeline.regfx_pair").inputFields == Seq("left", "right"))

    assert(api.listJobRecordIds == Seq("job-1", "job-2", "job-3"))
    assert(api.getJobRecord("job-2").contains(
      StepRecord("text.quality", Seq("raw_docs"), "struct<text:string,score:double>")))
    assert(api.jobEnvironment("job-1").contains(Env))
    assert(api.jobEnvironment("job-2").contains(Env2))
    assert(api.jobEnvironment("job-3").isEmpty)
    val recs = api.lineage.records
    assert(recs.size == 7)
    assert(recs.last == LineageRegistry.StepNode("batch-odd-4", OddStep.step,
      OddStep.inputs, OddStep.outputSchema))
    assert(api.valueLineage("joined").map(n => (n.run, n.step)) ==
      Seq("wfs-ingest-1" -> "joined", "wfs-ingest-1" -> "clean"))

    assert(api.listJobComments == Seq("job-1" -> "revised: café ☃", "job-2" -> "ok"))
    assert(api.getJobComment("job-1").contains("revised: café ☃"))

    assert(api.metadata.items.map(m => (m.key, m.value, m.refType, m.refId)) == Seq(
      ("qc", """{"ok":true,"note":"a\tb"}""", "job", "job-1"),
      ("licence", "CC0", "value", "v-docs-2")))
    assert(api.metadataItemWithHash(MetadataRegistry.itemHash("licence", "CC0"))
      .map(_.refId).contains("v-docs-2"))
    assert(api.metadataItemWithHash(MetadataRegistry.itemHash("licence", "CC-BY {4.0}")).isEmpty)

    assert(api.listRegisteredArchives == Seq(
      ("scratch", "/archives/with \"quotes\"\\dir", true),
      ("shared", "/archives/shared-v2", true)))

    assert(api.environments.list == Seq(Env.cid, Env2.cid))
    assert(api.environments.get(Env.cid).contains(Env))

    val saved = WorkflowSession.savedStatesFor(root, "explore")
    assert(saved.size == 3)
    val wf = api.createWorkflow("explore")
    assert(wf.allStateIds == saved.sorted)
    assert(wf.loadState().contains(saved.last))
    // stateId hashes the same canonical string the earlier build hashed
    assert(wf.stateId == saved.last)
    assert(wf.describe.map(_.name) == Seq("clean", "score", "joined"))
    assert(wf.currentInputs == Map("customers" -> "customers", "docs" -> "v-docs-1"))
    assert(wf.loadState(Some(saved.head)).contains(saved.head))
    assert(wf.stateId == saved.head && wf.currentInputs == Map("docs" -> "raw_docs"))
  }

  test("replaying the fixture script writes byte-identical registry files") {
    val root = tempRoot("graft_regfx_replay_")
    RegistryFixtures.write(new GraftApi(spark, root))
    RegistryFiles.foreach { f =>
      val in = getClass.getResourceAsStream(s"/$Dir/$f")
      val want = try in.readAllBytes() finally in.close()
      val got = Files.readAllBytes(Paths.get(root, f))
      assert(new String(got, "UTF-8") == new String(want, "UTF-8"), f)
      assert(got.sameElements(want), f)
    }
  }
}
