package graft

import graft.plans.Pipeline.StepRecord
import graft.registries.EnvironmentRegistry.EnvSnapshot
import graft.registries.WorkflowRegistry.OpStep

/** The scripted registry operations behind the committed format
  * fixtures in `src/test/resources/registry_v1/`: every registry file of
  * one context root, written through the registry surfaces with fixed
  * inputs — no session environment, no clock, no value data — so a
  * replay on an empty root writes the same bytes. Free-text fields carry
  * quotes, tabs, newlines and non-ASCII text so the escaping is on disk
  * too.
  *
  * To regenerate the fixtures, run `write` on an empty root and copy the
  * files named in `RegistryFiles` into the resource directory. */
object RegistryFixtures {
  val Dir = "registry_v1"

  /** The ten registry files of a context root. */
  val RegistryFiles: Seq[String] = Seq(
    "aliases.properties", "workflows.properties", "workflow_aliases.properties",
    "pipelines.properties", "lineage.jsonl", "mounts.jsonl",
    "job_comments.jsonl", "metadata.jsonl", "environments.jsonl",
    "workflow_states.jsonl")

  val Env = EnvSnapshot("0f1e2d3c4b5a69788796a5b4c3d2e1f0", Seq(
    "spark.version" -> "4.1.2", "java.version" -> "17.0.0",
    "os" -> "Linux amd64", "spark.master" -> "local[4]",
    "note" -> "a \"quoted\"\tvalue"))
  val Env2 = EnvSnapshot("a0b1c2d3e4f5a6b7c8d9e0f1a2b3c4d5", Seq(
    "spark.version" -> "4.1.2", "spark.master" -> "local[8]"))

  val IngestSteps = Seq(OpStep("clean", "text.clean", "docs"),
    OpStep("joined", "table2.join", "clean+customers"))
  val AuditSteps = Seq(OpStep("q", "text.quality", "docs"))
  val ScoreSteps = Seq(OpStep("clean", "text.clean", "docs"),
    OpStep("score", "text.quality", "clean"))
  val PairSteps = Seq(OpStep("j", "table2.join", "left+right"))

  val OddStep = StepRecord("step \"quoted\"\tname\nline2",
    Seq("in\\put", "café"), "struct<a:int,b:string>")
  val LegacyLine =
    """{"run":"job-3","step":"text.stats","inputs":["raw_docs"],"schema":"struct<n:bigint>"}"""

  def write(api: GraftApi): Unit = {
    api.aliases.set("raw_docs", "v-docs-1")
    api.aliases.set("customers", "v-cust-1")
    api.aliases.set("raw_docs", "v-docs-2") // re-pointed: latest wins

    val cid = api.environments.register(Env)
    api.environments.register(Env) // idempotent per cid
    val cid2 = api.environments.register(Env2)

    api.lineage.record("job-1",
      StepRecord("text.clean", Seq("raw_docs"), "struct<text:string>"), Some(cid))
    api.lineage.record("job-2",
      StepRecord("text.quality", Seq("raw_docs"), "struct<text:string,score:double>"),
      Some(cid2))
    api.lineage.appendRaw(LegacyLine) // a record without an environment
    api.lineage.recordRun("wfs-ingest-1", Seq(
      StepRecord("clean", Seq("docs"), "struct<text:string>"),
      StepRecord("joined", Seq("clean", "customers"), "struct<text:string,id:bigint>")))
    api.lineage.recordRun("pipeline.regfx_score-run-1", Seq(
      StepRecord("score", Seq("clean"), "struct<score:double>")))
    api.lineage.record("batch-odd-4", OddStep)

    api.workflows.registerOps("ingest", IngestSteps)
    api.workflows.registerOps("audit", AuditSteps)
    api.workflows.setAlias("prod", "ingest")
    api.workflows.setAlias("qa", "audit")
    api.workflows.setAlias("prod2", "ingest")

    api.pipelines.put("pipeline.regfx_score", ScoreSteps)
    api.pipelines.put("pipeline.regfx_pair", PairSteps)
    api.pipelines.put("pipeline.regfx_gone", AuditSteps)
    api.pipelines.remove("pipeline.regfx_gone")

    api.mounts.set("shared", "/archives/shared store", writable = false)
    api.mounts.set("scratch", "/archives/with \"quotes\"\\dir", writable = true)
    api.mounts.set("shared", "/archives/shared-v2", writable = true)

    api.comments.set("job-1", "first pass\nsecond line \"quoted\"\ttab")
    api.comments.set("job-2", "ok")
    api.comments.set("job-1", "revised: café ☃")

    api.metadata.register("licence", "CC-BY {4.0}", "value", "v-docs-2")
    api.metadata.register("qc", """{"ok":true,"note":"a\tb"}""", "job", "job-1")
    api.metadata.register("licence", "CC0", "value", "v-docs-2")

    val wf = api.createWorkflow("explore")
    wf.addStep("clean", "text.clean", "docs").addStep("score", "text.quality", "clean")
    wf.setInput("docs", "raw_docs")
    wf.snapshot(save = true)
    wf.setInput("docs", "v-docs-1")
    wf.snapshot(save = true)
    wf.addStep("joined", "table2.join", "score+customers")
    wf.setInput("customers", "customers")
    wf.snapshot(save = true)
  }
}
