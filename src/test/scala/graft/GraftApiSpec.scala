package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Render
import graft.sources.Export

class GraftApiSpec extends SparkTestBase {
  import spark.implicits._

  private def newApi = new GraftApi(spark, Export.tempDir("graft_api_").toString)

  test("store/get value by id and alias") {
    val api = newApi
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    api.storeValue("v1", df, alias = Some("latest"))
    assert(api.listValueIds == Seq("v1"))
    assert(api.listAliasNames == Seq("latest"))
    assert(api.getValue("latest").count() == 2)
    assert(api.getValue("v1").count() == 2)
  }

  test("renderValueAs dispatches through the typed value->value render seam") {
    val api = newApi
    api.storeValue("t1", Seq((1L, 2.5, "x"), (2L, 4.5, "y")).toDF("k", "v", "s"),
      Some("corpus"))
    // built-in renderer: table -> schema (registered as data, not code)
    val schema = api.renderValueAs("corpus", "schema").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(schema.map(_._1).toSet == Set("k", "v", "s"))
    // built-in renderer: table -> profile covers only numeric columns
    val prof = api.renderValueAs("t1", "profile", saveAs = Some("t1_profile"))
    assert(prof.collect().map(_.getString(0)).toSet == Set("k", "v"))
    assert(api.getValue("t1_profile").count() == 2) // rendered VALUE stored
    // a CUSTOM renderer registered at runtime is picked up by the same
    // dispatch — new value renderers are registrations, not match arms
    val opName = Render.ValueRenderOps.register("table", "row_count",
      df => df.agg(count(lit(1)).as("n_rows")),
      doc = "render any table as its row count")
    assert(opName == "render.table.row_count")
    assert(graft.plans.OpRegistry.contains(opName)) // surfaces as an operation
    val n = api.renderValueAs("corpus", "row_count").head().getLong(0)
    assert(n == 2L)
    // unknown pair: refused with the registered inventory named
    val e = intercept[IllegalArgumentException] {
      api.renderValueAs("corpus", "nope")
    }
    assert(e.getMessage.contains("table' -> 'nope") &&
      e.getMessage.contains("table->schema"))
  }

  test("runJob executes a registered operation and records the job") {
    val api = newApi
    api.storeValue("nums", Seq(1L, 2L, 3L, 4L).toDF("n"), Some("input"))
    api.registerOperation("evens_only", df => df.filter(col("n") % 2 === 0))
    val (jobId, out) = api.runJob("evens_only", "input")
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 4L))
    assert(api.listJobRecordIds == Seq(jobId))
    assert(api.getJobRecord(jobId).get.step == "evens_only")
    assert(api.lineage.lines.exists(_.contains(jobId)))
  }

  test("listDataTypeNames mirrors the kiara core types") {
    val names = newApi.listDataTypeNames
    assert(Seq("string", "boolean", "integer", "float", "bytes", "dict", "file")
      .forall(names.contains))
  }

  test("import and export round-trip through the value store") {
    val api = newApi
    val src = Seq((1L, 2.5), (2L, 3.5)).toDF("k", "v")
    val csvDir = Export.tempDir("graft_api_csv_").toString
    Export.csv(src, csvDir)
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType)))
    api.importValue("imported", "csv", csvDir, schema)
    assert(api.getValue("imported").count() == 2)
    val outDir = Export.tempDir("graft_api_out_").toString
    api.exportValue("imported", "json", outDir)
    assert(spark.read.schema(schema).json(outDir).count() == 2)
    intercept[IllegalArgumentException] { api.exportValue("imported", "xml", outDir) }
  }

  test("archive export/import round-trips values, aliases and lineage") {
    val apiA = newApi
    apiA.storeValue("v1", Seq((1L, "a"), (2L, "b")).toDF("id", "s"), Some("latest"))
    apiA.storeValue("v2", Seq(3L, 4L).toDF("n"))
    apiA.registerOperation("noop", df => df)
    apiA.runJob("noop", "latest")
    val arch = Export.tempDir("graft_api_arch_").toString
    assert(apiA.exportArchive(arch).sorted == Seq("v1", "v2"))
    // import into a brand-new context: values, aliases AND lineage arrive
    val apiB = newApi
    assert(apiB.importArchive(arch).sorted == Seq("v1", "v2"))
    assert(apiB.listValueIds == Seq("v1", "v2"))
    assert(apiB.getValue("latest").count() == 2)
    assert(apiB.getValue("v2").count() == 2)
    assert(apiB.lineage.lines.exists(_.contains("noop")))
    // selective export + noAliases
    val arch2 = Export.tempDir("graft_api_arch2_").toString
    apiA.exportArchive(arch2, values = Seq("v2"), noAliases = true)
    val apiC = newApi
    assert(apiC.importArchive(arch2) == Seq("v2"))
    assert(apiC.listAliasNames.isEmpty)
    // refuses to clobber a non-empty target
    intercept[IllegalArgumentException] { apiA.exportArchive(arch) }
  }

  test("valueLineage walks the full upstream provenance of a pipeline output") {
    import graft.plans.Pipeline
    val api = newApi
    val steps = Seq(
      Pipeline.Step("cleaned", Seq("docs"), in => in("docs")),
      Pipeline.Step("scored", Seq("cleaned", "weights"), in => in("cleaned")),
      Pipeline.Step("stats", Seq("scored"), in => in("scored")))
    api.workflows.register("llm_prep", steps)
    val docs = Seq((1L, "x")).toDF("doc_id", "text")
    val weights = Seq(1.0).toDF("w")
    api.workflows.run("llm_prep", "run-lin", Map("docs" -> docs, "weights" -> weights))
    val up = api.valueLineage("stats")
    assert(up.map(_.step) == Seq("stats", "scored", "cleaned")) // BFS, producer first
    assert(up.find(_.step == "scored").get.inputs.toSet == Set("cleaned", "weights"))
    assert(up.find(_.step == "cleaned").get.inputs == Seq("docs")) // raw leaf
    assert(up.forall(_.run == "run-lin"))
    assert(api.valueLineage("docs").isEmpty) // leaves have no producing step
  }

  test("value and alias matchers filter without loading data") {
    val api = newApi
    api.storeValue("customer_v1", Seq((1L, "a")).toDF("c_custkey", "c_name"), Some("cust"))
    api.storeValue("customer_v2", Seq((2L, "b")).toDF("c_custkey", "c_name"), Some("cust_latest"))
    api.storeValue("orders_v1", Seq((7L, 9.5)).toDF("o_orderkey", "o_total"), Some("ord"))
    assert(api.findValues("customer_*") == Seq("customer_v1", "customer_v2"))
    assert(api.findValues("*_v?") == Seq("customer_v1", "customer_v2", "orders_v1"))
    assert(api.findValues(hasColumn = Some("o_orderkey")) == Seq("orders_v1"))
    assert(api.findValues("customer_*", hasColumn = Some("o_orderkey")).isEmpty)
    assert(api.findAliases("cust*").map(_._1) == Seq("cust", "cust_latest"))
    assert(api.findAliases(valueGlob = "orders_*") == Seq("ord" -> "orders_v1"))
  }

  test("multi-context: named roots isolate values; active switch persists") {
    val base = Export.tempDir("graft_ctx_").toString
    val cx = new GraftContexts(spark, base)
    assert(cx.currentContextName == "default")
    cx.createContext("research").storeValue("v1", Seq(1L).toDF("n"))
    cx.createContext("prod")
    assert(cx.listContextNames == Seq("prod", "research"))
    assert(cx.context("research").listValueIds == Seq("v1"))
    assert(cx.context("prod").listValueIds.isEmpty) // isolation
    cx.setActiveContext("research")
    // a NEW manager on the same base sees the persisted switch
    val cx2 = new GraftContexts(spark, base)
    assert(cx2.currentContextName == "research")
    assert(cx2.currentContext.getValue("v1").count() == 1)
    intercept[IllegalArgumentException] { cx.createContext("../escape") }
  }

  test("job records and comments persist across JVM-equivalent API instances") {
    val root = Export.tempDir("graft_jobs_").toString
    val apiA = new GraftApi(spark, root)
    apiA.storeValue("nums", Seq(1L, 2L, 3L).toDF("n"), Some("input"))
    apiA.registerOperation("positive_only", df => df.filter(col("n") > 0))
    val (jobId, _) = apiA.runJob("positive_only", "input")
    apiA.setJobComment(jobId, "first pass — keep an eye on nulls\nline2")
    // a brand-new GraftApi on the same root (fresh-JVM shape) sees the
    // job record, the comment, and does not re-issue the job id
    val apiB = new GraftApi(spark, root)
    assert(apiB.listJobRecordIds.contains(jobId))
    val rec = apiB.getJobRecord(jobId).get
    assert(rec.step == "positive_only" && rec.inputs == Seq("input"))
    assert(apiB.getJobComment(jobId).contains("first pass — keep an eye on nulls\nline2"))
    val (jobId2, _) = apiB.runJob("positive_only", "input")
    assert(jobId2 != jobId)
    assert(apiB.listJobRecordIds.toSet == Set(jobId, jobId2))
    // comment updates are latest-wins; unknown jobs are rejected
    apiB.setJobComment(jobId, "resolved")
    assert(apiB.getJobComment(jobId).contains("resolved"))
    intercept[IllegalArgumentException] { apiB.setJobComment("job-999", "x") }
  }

  test("metadata: attach, find by key glob, retrieve by hash, survive a restart") {
    val root = Export.tempDir("graft_meta_").toString
    val apiA = new GraftApi(spark, root)
    apiA.storeValue("docs", Seq((1L, "x")).toDF("id", "s"), Some("corpus"))
    // attach via alias AND via id; latest-wins per (key, ref)
    val h1 = apiA.registerMetadata("corpus", "licence", "CC-BY-4.0")
    apiA.registerMetadata("docs", "qc_verdict", "draft")
    val h2 = apiA.registerMetadata("docs", "qc_verdict", "approved")
    assert(h1 == graft.registries.MetadataRegistry.itemHash("licence", "CC-BY-4.0"))
    assert(apiA.metadataForValue("corpus").map(m => m.key -> m.value) ==
      Seq("licence" -> "CC-BY-4.0", "qc_verdict" -> "approved"))
    assert(apiA.findMetadataItems("qc_*").map(_.value) == Seq("approved"))
    assert(apiA.metadataItemWithHash(h2).get.key == "qc_verdict")
    // unknown value refused; job refs resolve against job records
    intercept[IllegalArgumentException] { apiA.registerMetadata("nope", "k", "v") }
    apiA.registerOperation("meta_id", df => df)
    val (jobId, _) = apiA.runJob("meta_id", "corpus")
    apiA.registerMetadata(jobId, "review", "lgtm", refType = "job")
    // a fresh API on the same root (fresh-JVM shape) sees everything,
    // and valueInfo surfaces the attached items
    val apiB = new GraftApi(spark, root)
    assert(apiB.metadataForValue("docs").size == 2)
    assert(apiB.metadataItemWithHash(h1).get.value == "CC-BY-4.0")
    assert(apiB.metadata.forRef("job", jobId).map(_.value) == Seq("lgtm"))
    assert(apiB.valueInfo("docs").metadata == Seq("licence=CC-BY-4.0", "qc_verdict=approved"))
  }

  test("environment provenance: a re-read job carries its writing session's env") {
    val root = Export.tempDir("graft_env_").toString
    val apiA = new GraftApi(spark, root)
    apiA.storeValue("nums", Seq(1L, 2L).toDF("n"), Some("input"))
    apiA.registerOperation("env_id", df => df)
    val (jobId, _) = apiA.runJob("env_id", "input")
    val envA = apiA.environmentInfo
    assert(envA.field("spark.version").contains(spark.version))
    assert(envA.field("spark.sql.shuffle.partitions").isDefined)
    // fresh API on the same root: the job's environment resolves from the
    // persisted record, cid-identical to the writing session's snapshot
    val apiB = new GraftApi(spark, root)
    val envB = apiB.jobEnvironment(jobId)
    assert(envB.isDefined)
    assert(envB.get.cid == envA.cid)
    assert(envB.get.field("spark.version").contains(spark.version))
    assert(apiB.environments.list == Seq(envA.cid)) // idempotent per cid
    assert(apiB.jobEnvironment("job-does-not-exist").isEmpty)
  }

  test("module-type catalog: names, info records, custom types surface") {
    val api = newApi
    val names = api.listModuleTypeNames
    assert(Seq("dedup", "mm", "profile", "text").forall(names.contains), names)
    val text = api.moduleTypeInfo("text")
    assert(text.implementing == "graft.operators.TextOps")
    assert(text.operations.contains("text.clean") && text.doc.nonEmpty)
    assert(text.inputType == "table" && text.outputType == "table")
    // an undeclared custom registration still surfaces its module type
    api.registerOperation("mymod.noop", df => df)
    assert(api.listModuleTypeNames.contains("mymod"))
    val my = api.moduleTypeInfo("mymod")
    assert(my.implementing == "custom" && my.operations == Seq("mymod.noop"))
    intercept[NoSuchElementException] { api.moduleTypeInfo("no_such_module") }
    assert(api.moduleTypesInfo.map(_.name) == api.listModuleTypeNames)
  }

  test("plugin catalog lists bundles with info records; custom bundles join") {
    val api = newApi
    assert(api.listPluginNames.contains("graft-extensions"))
    val ext = api.pluginInfo("graft-extensions")
    assert(ext.implementing == "org.apache.spark.sql.graftext.GraftExtensions")
    assert(ext.provides.contains("graft_dot") && ext.description.nonEmpty)
    graft.plans.PluginRegistry.register(graft.plans.PluginRegistry.PluginInfo(
      "my-bundle", "com.example.MyExt", "user bundle", Seq("my_fn")))
    assert(api.listPluginNames.contains("my-bundle"))
    assert(api.pluginsInfo.map(_.name) == api.listPluginNames)
    intercept[NoSuchElementException] { api.pluginInfo("no-such-plugin") }
  }

  test("jobsInfo joins record+state+comment and survives a restart") {
    val root = Export.tempDir("graft_jobsinfo_").toString
    val apiA = new GraftApi(spark, root)
    apiA.storeValue("nums", Seq(1L, 2L).toDF("n"), Some("in"))
    apiA.registerOperation("ji_noop", df => df)
    val (j1, _) = apiA.runJob("ji_noop", "in")
    apiA.setJobComment(j1, "looks right")
    // fresh GraftApi on the same root = fresh-JVM shape: the rendered
    // info record joins the persisted StepRecord with the comment
    val apiB = new GraftApi(spark, root)
    val ji = apiB.jobsInfo.find(_.jobId == j1).get
    assert(ji.operation == "ji_noop" && ji.inputs == Seq("in"))
    assert(ji.state == "success" && ji.comment.contains("looks right"))
    assert(ji.outputSchema.contains("n"))
    assert(apiB.jobInfo(j1) == ji)
    intercept[NoSuchElementException] { apiB.jobInfo("job-424242") }
    // a FAILED queued job leaves no lineage record but must still be
    // listed — failures hidden from the list surface are unauditable
    apiA.registerOperation("ji_boom", _ => throw new RuntimeException("boom"))
    val jf = apiA.queueJob("ji_boom", "in")
    intercept[Exception] { apiA.getJobResult(jf) }
    val failed = apiA.jobsInfo.find(_.jobId == jf).get
    assert(failed.state == "failed" && failed.operation == "ji_boom")
    assert(failed.inputs == Seq("in"))
  }

  test("importValues dispatches format per extension; exportValues batches") {
    val api = newApi
    val dir = Export.tempDir("graft_batch_io_").toString
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "s")
    api.storeValues(Seq("va" -> df, "vb" -> df, "vc" -> df))
    val pCsv = api.exportValues(Seq("va"), dir, "csv")("va")
    val pJson = api.exportValues(Seq("vb"), dir, "json")("vb")
    val pParq = api.exportValues(Seq("vc"), dir, "parquet")("vc")
    // one batch import across three formats, dispatched by extension
    val ids = api.importValues(Seq("ra" -> pCsv, "rb" -> pJson, "rc" -> pParq))
    assert(ids == Seq("ra", "rb", "rc"))
    val want = df.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    ids.foreach { id =>
      // csv inference narrows small ids to int; compare at long width
      val got = api.getValue(id).select(col("id").cast("long"), col("s"))
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got == want, s"$id: $got")
    }
    intercept[IllegalArgumentException] {
      api.importValues(Seq("rx" -> s"$dir/unknown.xml"))
    }
  }

  test("queueJob runs asynchronously with pollable state and blocking result") {
    val api = newApi
    api.storeValue("nums", Seq(1L, 2L, 3L, 4L).toDF("n"), Some("input"))
    api.registerOperation("evens", df => df.filter(col("n") % 2 === 0))
    api.registerOperation("boom", _ => throw new RuntimeException("kaboom"))
    val j1 = api.queueJob("evens", "input")
    val j2 = api.queueJob("evens", "input")
    assert(j1 != j2)
    // getJobResult blocks until done; results are full DataFrames
    assert(api.getJobResult(j1).collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 4L))
    assert(api.getJobResult(j2).count() == 2)
    assert(api.getJob(j1).state == "success")
    // queued jobs leave the same persisted record as runJob
    assert(api.getJobRecord(j1).exists(_.step == "evens"))
    // a failing job reports failed state and rethrows on result
    val j3 = api.queueJob("boom", "input")
    intercept[RuntimeException] { api.getJobResult(j3) }
    assert(api.getJob(j3).state == "failed" && api.getJob(j3).error.get.contains("kaboom"))
    intercept[NoSuchElementException] { api.getJob("job-12345") }
  }

  test("getJobResult replays recorded jobs that were never queued here") {
    val root = Export.tempDir("graft_jobreplay_").toString
    val apiA = new GraftApi(spark, root)
    apiA.storeValue("nums", Seq(1L, 2L, 3L, 4L).toDF("n"), Some("input"))
    apiA.registerOperation("evens_replay", df => df.filter(col("n") % 2 === 0))
    // runJob issues an id with no queued future behind it
    val (jobId, _) = apiA.runJob("evens_replay", "input")
    assert(apiA.getJobResult(jobId).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(2L, 4L))
    // a fresh JVM-equivalent on the same root sees the persisted record
    // and replays it too (ops/values are re-registered, records persist)
    val apiB = new GraftApi(spark, root)
    apiB.registerOperation("evens_replay", df => df.filter(col("n") % 2 === 0))
    assert(apiB.getJobResult(jobId).count() == 2)
    intercept[NoSuchElementException] { apiB.getJobResult("job-99999") }
  }

  test("failed queued job ids are not re-issued after a restart") {
    val root = Export.tempDir("graft_jobfail_").toString
    val apiA = new GraftApi(spark, root)
    apiA.storeValue("nums", Seq(1L, 2L).toDF("n"), Some("input"))
    apiA.registerOperation("always_fails", _ => throw new RuntimeException("nope"))
    apiA.registerOperation("identity_op", df => df)
    val j = apiA.queueJob("always_fails", "input")
    intercept[RuntimeException] { apiA.getJobResult(j) }
    apiA.setJobComment(j, "died on bad input") // failed jobs may be annotated
    // a fresh API on the same root must not hand the dead job's id (and
    // therefore its comment) to an unrelated new job
    val apiB = new GraftApi(spark, root)
    val (j2, _) = apiB.runJob("identity_op", "input")
    assert(j2 != j)
    assert(apiB.getJobComment(j2).isEmpty)
    assert(apiB.getJobComment(j).contains("died on bad input"))
  }

  test("batch store/get values round-trip") {
    val api = newApi
    val ids = api.storeValues(Seq(
      "a" -> Seq(1L).toDF("n"), "b" -> Seq(2L, 3L).toDF("n")))
    assert(ids == Seq("a", "b"))
    val got = api.getValues(Seq("a", "b"))
    assert(got("a").count() == 1 && got("b").count() == 2)
  }

  test("valueInfo reads footers only; contextInfo and dataTypesInfo render") {
    val api = newApi
    api.storeValue("v1", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), Some("latest"))
    val vi = api.valueInfo("latest") // resolves alias → id
    assert(vi.id == "v1" && vi.rows == 3L && vi.sizeBytes > 0L)
    assert(vi.schema.contains("id:bigint") && vi.aliases == Seq("latest"))
    assert(vi.producedBy.isEmpty) // raw import, no producing step
    // a pipeline-produced value carries its producing run
    import graft.plans.Pipeline
    api.workflows.register("wf", Seq(Pipeline.Step("derived", Seq("v1"), in => in("v1"))))
    api.workflows.run("wf", "run-9", Map("v1" -> api.getValue("v1")))
    api.storeValue("derived", api.getValue("v1"))
    assert(api.valueInfo("derived").producedBy.contains("run-9"))
    assert(api.valuesInfo().map(_.id) == Seq("derived", "v1"))
    // aliases info: alias → augmented target info (kiara_api.py:997)
    val ai = api.aliasesInfo()
    assert(ai.map(_._1) == Seq("latest") && ai.head._2.id == "v1" && ai.head._2.rows == 3L)
    assert(api.aliasesInfo("nope*").isEmpty)
    val ci = api.contextInfo
    assert(ci.values == 2 && ci.aliases == 1 && ci.operations > 0)
    assert(api.dataTypesInfo.toMap.get("integer").contains("BIGINT"))
    intercept[IllegalArgumentException] { api.valueInfo("nope") }
  }

  test("archiveInfo inspects an archive without importing it") {
    val api = newApi
    api.storeValue("v1", Seq((1L, "a"), (2L, "b")).toDF("id", "s"), Some("latest"))
    api.storeValue("v2", (1L to 50L).toDF("n"))
    val arch = Export.tempDir("graft_archinfo_").toString
    api.exportArchive(arch)
    val info = api.archiveInfo(arch)
    assert(info.version == 1)
    assert(info.values.map(_.id).sorted == Seq("v1", "v2"))
    assert(info.values.find(_.id == "v1").get.rows == 2L)
    assert(info.values.find(_.id == "v2").get.rows == 50L)
    assert(info.values.forall(v => v.sizeBytes > 0 && v.files > 0))
    assert(info.aliases == Seq("latest" -> "v1"))
    assert(info.lineageRecords == 0)
  }

  test("prettyPrint renders a bounded aligned table") {
    val s = Render.prettyPrint(Seq((1L, "alpha"), (2L, "beta")).toDF("id", "name"), rows = 1)
    val lines = s.split("\n")
    assert(lines.count(_.startsWith("|")) == 2) // header + 1 row only
    assert(lines(1).contains("id") && lines(1).contains("name"))
    assert(lines.last.startsWith("+-"))
  }

  test("page slices deterministically") {
    val df = spark.range(100).toDF("n")
    val p2 = Render.page(df, Seq("n"), pageSize = 10, pageNo = 2).collect().map(_.getLong(0))
    assert(p2.toSeq == (20L until 30L).toSeq)
  }

  test("singular/plural info surfaces and cross-context catalogs") {
    val api = newApi
    api.storeValue("v1", Seq((1L, "a")).toDF("id", "s"), Some("latest"))
    api.registerOperation("noop_info", df => df, doc = "does nothing")
    // get_value_str renders a bounded table
    val s = api.getValueStr("latest", rows = 5)
    assert(s.contains("id") && s.contains("s") && s.contains("a"))
    // plural operations info covers the registered op in one pass
    assert(api.operationsInfo.exists(_.name == "noop_info"))
    // singular data-type lookup mirrors the plural table
    assert(api.dataTypeInfo("string") == ("string" -> api.dataTypesInfo.toMap.apply("string")))
    intercept[NoSuchElementException] { api.dataTypeInfo("no_such_type") }
    // cross-context catalogs qualify ids with the context name
    val base = Export.tempDir("graft_ctxs_").toString
    val ctxs = new GraftContexts(spark, base)
    ctxs.context("alpha").storeValue("va", Seq(1L).toDF("n"), None)
    ctxs.context("beta").storeValue("vb", Seq(2L).toDF("n"), None)
    assert(ctxs.listAllValueIds == Seq("alpha:va", "beta:vb"))
    val infos = ctxs.contextInfos.toMap
    assert(infos("alpha").values == 1 && infos("beta").values == 1)
    assert(ctxs.listAllJobRecordIds.isEmpty)
  }

  test("markdown and html render targets are bounded and escaped") {
    val df = Seq((1L, "<b>bold</b>"), (2L, "a&b"), (3L, "c")).toDF("id", "payload")
    val md = Render.markdown(df, rows = 2)
    val lines = md.split("\n")
    assert(lines(0) == "| id | payload |")
    assert(lines(1) == "| --- | --- |")
    assert(lines.length == 4) // header + separator + 2 rows (bounded)
    val h = Render.html(df, rows = 3)
    assert(h.startsWith("<table>") && h.endsWith("</table>"))
    assert(h.contains("&lt;b&gt;bold&lt;/b&gt;") && h.contains("a&amp;b"))
    assert(!h.contains("<b>")) // no raw markup injection
  }

  test("registry event hooks: one subscription sees every mutation kind in order") {
    import graft.registries.RegistryEvents._
    val api = newApi
    val seen = scala.collection.mutable.ArrayBuffer.empty[Event]
    api.onRegistryEvent(seen += _)
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    api.storeValue("ev-demo", df, alias = Some("evdemo"))
    val (jobId, _) = api.runJob("profile.schema", "evdemo")
    api.registerMetadata("evdemo", "qc", "passed")
    api.workflows.registerOps("evwf",
      Seq(graft.registries.WorkflowRegistry.OpStep("s1", "profile.schema", "in")))
    api.setJobComment(jobId, "reviewed")
    val kinds = seen.toSeq
    assert(kinds.collect { case ValueStored(id, path) => (id, path.contains("ev-demo")) }
      == Seq(("ev-demo", true)))
    assert(kinds.collect { case AliasStored(a, v) => (a, v) } == Seq(("evdemo", "ev-demo")))
    assert(kinds.collect { case JobRecordStored(r, s, ins) => (r, s, ins) }
      == Seq((jobId, "profile.schema", Seq("evdemo"))))
    assert(kinds.collect { case MetadataStored(k, t, r, _) => (k, t, r) }
      == Seq(("qc", "value", "ev-demo"))) // alias resolved to the value id
    assert(kinds.collect { case WorkflowStored(n, p) => (n, p) } == Seq(("evwf", true)))
    assert(kinds.collect { case CommentStored(j) => j } == Seq(jobId))
    // full mutation order across ALL six registries on the one bus
    // (ValueStoring is the pre-write half of the store)
    assert(kinds.map(_.getClass.getSimpleName) ==
      Seq("ValueStoring", "ValueStored", "AliasStored", "JobRecordStored",
        "MetadataStored", "WorkflowStored", "CommentStored"))
    // pre-write veto: a throwing ValueStoring listener PREVENTS the write
    api.onRegistryEvent {
      case ValueStoring(id) if id == "veto" => sys.error("qc hook rejected " + id)
      case _ => ()
    }
    val e = intercept[RuntimeException] { api.storeValue("veto", df) }
    assert(e.getMessage.contains("qc hook rejected veto"))
    assert(!api.data.exists("veto")) // genuinely vetoed: nothing on disk
    // a post-write throwing listener aborts the continuation, not the write
    api.onRegistryEvent {
      case ValueStored(id, _) if id == "audit-fail" => sys.error("audit sink down")
      case _ => ()
    }
    intercept[RuntimeException] { api.storeValue("audit-fail", df, alias = Some("af")) }
    assert(api.data.exists("audit-fail")) // value durable before the event
    assert(api.aliases.resolve("af").isEmpty) // continuation (alias set) aborted
  }

  test("template render target substitutes per row, bounded, null-safe") {
    val df = Seq((1L, Some("alpha")), (2L, None), (3L, Some("gamma")))
      .toDF("id", "name")
    val out = Render.template(df, "item {{id}} is '{{ name }}'", rows = 2)
    assert(out == "item 1 is 'alpha'\nitem 2 is ''") // bounded + null → ""
    // repeated + whitespace-padded placeholders both substitute
    assert(Render.template(df, "{{id}}{{id}}", rows = 1) == "11")
    val e = intercept[IllegalArgumentException] {
      Render.template(df, "{{missing}}", rows = 1)
    }
    assert(e.getMessage.contains("unknown column") && e.getMessage.contains("id, name"))
    // dispatch through the catalog target
    assert(Render.as("template", df, 1, Some("{{name}}")) == "alpha")
  }

  test("runBatch: pipeline-from-file runs, saves aliases, records lineage") {
    val api = newApi
    api.storeValue("src1", Seq((1L, 10L), (2L, 60L), (3L, 80L)).toDF("id", "qty"),
      Some("raw"))
    graft.plans.OpRegistry.register("batch_keep_big",
      df => df.filter(col("qty") > 50L))
    graft.plans.OpRegistry.register("batch_tag",
      df => df.withColumn("tag", lit("ok")))
    val spec = Export.tempDir("graft_batch_").resolve("curate_corpus.json")
    java.nio.file.Files.write(spec,
      """{"steps": [{"name": "big", "op": "batch_keep_big", "input": "docs"},
        |           {"name": "tagged", "op": "batch_tag", "input": "big"}],
        | "inputs": {"docs": "raw"},
        | "save": {"tagged": "curated"}}""".stripMargin.getBytes("UTF-8"))
    val (runId, saved) = api.runBatch(spec.toString)
    // pipeline_name defaults from the file basename (the kiara contract)
    assert(runId.startsWith("batch-curate_corpus-"), runId)
    assert(saved.map(s => (s._1, s._2)) == Seq(("tagged", "curated")))
    val out = api.getValue("curated").collect()
    assert(out.map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    assert(out.forall(_.getString(2) == "ok"))
    // every step landed in lineage under the run id
    val steps = api.lineage.records.filter(_.run == runId).map(_.step)
    assert(steps.toSet == Set("big", "tagged"))
    // a bad save target and an unknown op are refused up front
    val spec2 = spec.getParent.resolve("bad.json")
    java.nio.file.Files.write(spec2,
      """{"steps": [{"name": "s", "op": "batch_tag", "input": "docs"}],
        | "inputs": {"docs": "raw"}, "save": {"nope": "x"}}""".stripMargin
        .getBytes("UTF-8"))
    val e1 = intercept[IllegalArgumentException](api.runBatch(spec2.toString))
    assert(e1.getMessage.contains("save target"))
    val spec3 = spec.getParent.resolve("unknown_op.json")
    java.nio.file.Files.write(spec3,
      """{"steps": [{"name": "s", "op": "no_such_op", "input": "docs"}],
        | "inputs": {"docs": "raw"}}""".stripMargin.getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException](api.runBatch(spec3.toString))
    assert(e2.getMessage.contains("unknown operation"))
  }

  test("workflow session: incremental build, set_input diff contract, process") {
    val root = Export.tempDir("graft_wfs_").toString
    val api = new GraftApi(spark, root)
    api.storeValue("d1", Seq((1L, 10L), (2L, 70L)).toDF("id", "qty"), Some("raw"))
    api.storeValue("d2", Seq((1L, 10L), (2L, 70L), (3L, 90L)).toDF("id", "qty"),
      Some("raw2"))
    graft.plans.OpRegistry.register("wfs_big", df => df.filter(col("qty") > 50L))
    graft.plans.OpRegistry.register("wfs_n",
      df => df.agg(count(lit(1)).as("n")))
    val wf = api.createWorkflow("curation")
    wf.addStep("big", "wfs_big", "docs").addStep("n", "wfs_n", "big")
    assert(wf.currentInputNames == Seq("docs"))
    // set_input returns the ref when it CHANGES the field, None when not
    assert(wf.setInput("docs", "raw") == Some("raw"))
    assert(wf.setInput("docs", "raw") == None)
    val bad = intercept[IllegalArgumentException](wf.setInput("nope", "raw"))
    assert(bad.getMessage.contains("Available inputs: docs"))
    wf.process()
    assert(wf.currentOutputs("n").head().getLong(0) == 1L)
    // lineage recorded under the session run id
    assert(api.lineage.records.exists(r => r.run == "wfs-curation-1"))
    // mutation invalidates cached outputs until the next process
    wf.setInput("docs", "raw2")
    assert(wf.currentOutputs.isEmpty)
    wf.process()
    assert(wf.currentOutputs("n").head().getLong(0) == 2L)
  }

  test("workflow session: snapshots, state time-travel, cross-JVM reload, save") {
    val root = Export.tempDir("graft_wfs2_").toString
    val api = new GraftApi(spark, root)
    api.storeValue("d1", Seq((1L, 60L)).toDF("id", "qty"), Some("rawA"))
    api.storeValue("d2", Seq((1L, 60L), (2L, 80L)).toDF("id", "qty"), Some("rawB"))
    graft.plans.OpRegistry.register("wfs2_keep", df => df.filter(col("qty") > 50L))
    val wf = api.createWorkflow("journey")
    wf.addStep("keep", "wfs2_keep", "in")
    wf.setInput("in", "rawA")
    val s1 = wf.snapshot(save = true)
    wf.setInput("in", "rawB")
    val s2 = wf.snapshot(save = true)
    assert(s1 != s2)
    // content-derived identity: same config -> same id
    wf.setInput("in", "rawA")
    assert(wf.stateId == s1)
    assert(wf.allStateIds == Seq(s1, s2).sorted)
    // no id -> the LATEST SAVED state
    assert(wf.loadState() == Some(s2))
    assert(wf.currentInputs("in") == "rawB")
    assert(wf.loadState(Some(s1)) == Some(s1))
    assert(wf.currentInputs("in") == "rawA")
    intercept[NoSuchElementException](wf.loadState(Some("deadbeef0000")))
    // a FRESH context on the same root reloads the persisted history
    val api2 = new GraftApi(spark, root)
    val wf2 = api2.createWorkflow("journey")
    assert(wf2.loadState() == Some(s2))
    assert(wf2.describe.map(_.op) == Seq("wfs2_keep"))
    assert(wf2.process().values("keep").count() == 2L)
    // save() persists the DAG as a registry workflow; getWorkflow rebuilds
    wf2.save("journey_alias")
    val api3 = new GraftApi(spark, root)
    val wf3 = api3.getWorkflow("journey_alias")
    assert(wf3.describe.map(s => (s.name, s.op, s.input)) ==
      Seq(("keep", "wfs2_keep", "in")))
    assert(api3.listWorkflowIds.contains("journey") &&
      api3.listWorkflowIds.contains("journey_alias"))
  }

  test("workflow session: binary step wiring and '+' state-log round trip") {
    val root = Export.tempDir("graft_wfs3_").toString
    val api = new GraftApi(spark, root)
    graft.plans.Builtins.ensureRegistered()
    api.storeValue("l", Seq((1L, "a"), (2L, "b")).toDF("id", "s"), Some("left"))
    api.storeValue("r", Seq((1L, "A")).toDF("id", "t"), Some("right"))
    val wf = api.createWorkflow("pairing")
    wf.addStep("j", "table2.join", "x+y")
    assert(wf.currentInputNames == Seq("x", "y"))
    wf.setInput("x", "left")
    wf.setInput("y", "right")
    assert(wf.process().values("j").count() == 1L)
    val sid = wf.snapshot(save = true)
    // a fresh context reloads the two-input step from the state log
    val api2 = new GraftApi(spark, root)
    val wf2 = api2.createWorkflow("pairing")
    assert(wf2.loadState() == Some(sid))
    assert(wf2.describe.head.input == "x+y")
    assert(wf2.process().values("j").count() == 1L)
    // arity mismatch refused at addStep
    val e = intercept[IllegalArgumentException](
      wf.addStep("bad", "table2.join", "j"))
    assert(e.getMessage.contains("takes 2 input"))
    // field aliases (set_input_alias / set_output_alias): setInput
    // accepts the alias; outputs surface under both names
    wf.setInputAlias("x", "left_table").setOutputAlias("j", "pairs")
    assert(wf.setInput("left_table", "right") == Some("right"))
    wf.setInput("left_table", "left")
    wf.process()
    assert(wf.currentOutputs("pairs").count() == 1L)
    assert(wf.currentOutputs.contains("j"))
    val e2 = intercept[IllegalArgumentException](
      wf.setInputAlias("ghost", "g"))
    assert(e2.getMessage.contains("unknown input field"))
  }

  test("workflow aliases: register, resolve, info records, collision rules") {
    val root = Export.tempDir("graft_wfa_").toString
    val api = new GraftApi(spark, root)
    api.storeValue("w1", Seq((1L, 60L), (2L, 10L)).toDF("id", "qty"), Some("wa_raw"))
    graft.plans.OpRegistry.register("wfa_keep", df => df.filter(col("qty") > 50L))
    val wf = api.createWorkflow("ingest_v2")
    wf.addStep("keep", "wfa_keep", "in")
    wf.setInput("in", "wa_raw")
    wf.snapshot(save = true)
    // aliases only over PERSISTED workflows (a fresh JVM must resolve them)
    val e0 = intercept[IllegalArgumentException](
      api.setWorkflowAlias("prod", "ingest_v2"))
    assert(e0.getMessage.contains("not persisted"))
    wf.save()
    api.setWorkflowAlias("prod", "ingest_v2")
    assert(api.listWorkflowAliasNames == Seq("prod"))
    // an alias resolves everywhere a name does — getWorkflow, describe, run
    assert(api.getWorkflow("prod").describe.map(_.op) == Seq("wfa_keep"))
    assert(api.workflows.describe("prod").map(_.name) == Seq("keep"))
    // aliasing an alias resolves through to the real name
    api.setWorkflowAlias("prod2", "prod")
    assert(api.workflows.resolveAlias("prod2") == Some("ingest_v2"))
    assert(api.workflows.aliasesFor("ingest_v2") == Seq("prod", "prod2"))
    // collisions refused both ways: alias over a workflow name, and a
    // new workflow under an existing alias
    val e1 = intercept[IllegalArgumentException](
      api.setWorkflowAlias("ingest_v2", "ingest_v2"))
    assert(e1.getMessage.contains("collides"))
    val e2 = intercept[IllegalArgumentException](
      api.workflows.registerOps("prod",
        Seq(graft.registries.WorkflowRegistry.OpStep("s", "wfa_keep", "in"))))
    assert(e2.getMessage.contains("already a workflow alias"))
    // ...and a live SESSION under an alias name is refused too — resolve()
    // would shadow it, leaving it unreachable and unsavable (ADVICE r13)
    val e2b = intercept[IllegalArgumentException](api.createWorkflow("prod"))
    assert(e2b.getMessage.contains("already a workflow alias"))
    // info records: aliases + steps + inputs + snapshot history
    val info = api.workflowInfo("prod")
    assert(info.name == "ingest_v2" && info.aliases == Seq("prod", "prod2"))
    assert(info.inputFields == Seq("in") && info.persisted)
    assert(info.savedStates == 1 && info.lastStateId.isDefined)
    assert(api.workflowsInfo.map(_.name).contains("ingest_v2"))
    // a FRESH context resolves the persisted alias and its history
    val api2 = new GraftApi(spark, root)
    assert(api2.listWorkflowAliasNames == Seq("prod", "prod2"))
    val info2 = api2.workflowInfo("prod2")
    assert(info2.name == "ingest_v2" && info2.savedStates == 1)
    val rebuilt = api2.getWorkflow("prod") // steps from the registry…
    rebuilt.loadState()                    // …inputs from the state log
    assert(rebuilt.process().values("keep").count() == 1L)
  }

  test("createWorkflow refuses to shadow a persisted workflow") {
    val root = Export.tempDir("graft_wfshadow_").toString
    val api = new GraftApi(spark, root)
    graft.plans.OpRegistry.register("wfsh_id", df => df)
    api.workflows.registerOps("stable",
      Seq(graft.registries.WorkflowRegistry.OpStep("s", "wfsh_id", "in")))
    // creating a session named like the persisted workflow would shadow
    // it (and a later save() would overwrite the DAG) — refused
    val e = intercept[IllegalArgumentException](api.createWorkflow("stable"))
    assert(e.getMessage.contains("persisted workflow already exists"))
    // getWorkflow is the right door: rebuilds from the registry
    assert(api.getWorkflow("stable").describe.map(_.op) == Seq("wfsh_id"))
  }

  test("a corrupt workflow state log fails loudly instead of dropping history") {
    val root = Export.tempDir("graft_wfcorrupt_").toString
    val api = new GraftApi(spark, root)
    graft.plans.OpRegistry.register("wfc_id", df => df)
    api.storeValue("wc1", Seq(1L).toDF("n"), Some("wfc_raw"))
    val wf = api.createWorkflow("audit")
    wf.addStep("s", "wfc_id", "in")
    wf.setInput("in", "wfc_raw")
    val sid = wf.snapshot(save = true)
    val log = java.nio.file.Paths.get(s"$root/workflow_states.jsonl")
    val saved = java.nio.file.Files.readAllBytes(log)
    Seq(
      // an interleaved/hand-edited line the writer could never produce
      "{\"workflow\":\"audit\",\"state_id\":\"deadbeef\"  GARBAGE",
      // a torn line: every field present, no closing brace
      "{\"workflow\":\"audit\",\"state_id\":\"deadbeef\",\"steps\":\"s:wfc_id:in\"," +
        "\"inputs\":\"in=wfc_raw\"",
      // two whole appends interleaved onto one line
      new String(saved, "UTF-8").trim * 2
    ).foreach { bad =>
      java.nio.file.Files.write(log, saved)
      java.nio.file.Files.write(log, (bad + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.APPEND)
      val e = intercept[IllegalStateException](wf.allStateIds)
      assert(e.getMessage.contains("corrupt workflow state log"), e.getMessage)
    }
    // a parallel session on the same root serializes through the shared
    // per-file lock object (same instance for both sessions)
    import graft.registries.RegistryFile.lockFor
    assert(lockFor(java.nio.file.Paths.get(s"$root/workflow_states.jsonl")) eq
      lockFor(java.nio.file.Paths.get(s"$root/./workflow_states.jsonl")))
    assert(sid.nonEmpty)
  }

  test("setInputAlias refuses collisions with real fields and other aliases") {
    val api = newApi
    graft.plans.Builtins.ensureRegistered()
    val wf = api.createWorkflow("alias_rules")
    wf.addStep("j", "table2.join", "x+y")
    // alias equal to ANOTHER real input field would make that field
    // unreachable (setInput resolves aliases first) — refused
    val e1 = intercept[IllegalArgumentException](wf.setInputAlias("x", "y"))
    assert(e1.getMessage.contains("collides"))
    wf.setInputAlias("x", "left")
    // the same alias on a second field would hijack the first binding
    val e2 = intercept[IllegalArgumentException](wf.setInputAlias("y", "left"))
    assert(e2.getMessage.contains("already bound"))
    // re-stating the same binding is idempotent, not a collision
    wf.setInputAlias("x", "left")
  }

  test("runBatch surfaces spec-shaped errors for malformed specs") {
    val api = newApi
    api.storeValue("rb1", Seq((1L, 2L)).toDF("id", "qty"), Some("rb_raw"))
    graft.plans.OpRegistry.register("rb_id", df => df)
    val dir = Export.tempDir("graft_badspec_")
    def spec(name: String, body: String): String = {
      val p = dir.resolve(name)
      java.nio.file.Files.write(p, body.getBytes("UTF-8"))
      p.toString
    }
    // a numeric value where a string belongs: spec-shaped error, not a
    // ClassCastException (ADVICE r12)
    val e1 = intercept[IllegalArgumentException](api.runBatch(spec("num.json",
      """{"steps": [{"name": "s", "op": "rb_id", "input": "docs"}],
        | "inputs": {"docs": 42}}""".stripMargin)))
    assert(e1.getMessage.contains("must be a string"), e1.getMessage)
    // steps that all omit a key: named error, not Spark field-not-found
    val e2 = intercept[IllegalArgumentException](api.runBatch(spec("nokey.json",
      """{"steps": [{"name": "s", "op": "rb_id"}], "inputs": {"docs": "rb_raw"}}""")))
    assert(e2.getMessage.contains("'input' missing"), e2.getMessage)
    // steps not a list of objects
    val e3 = intercept[IllegalArgumentException](api.runBatch(spec("flat.json",
      """{"steps": "s", "inputs": {"docs": "rb_raw"}}""")))
    assert(e3.getMessage.contains("list of step objects"), e3.getMessage)
    // a null save alias
    val e4 = intercept[IllegalArgumentException](api.runBatch(spec("null.json",
      """{"steps": [{"name": "s", "op": "rb_id", "input": "docs"}],
        | "inputs": {"docs": "rb_raw"}, "save": {"s": null}}""".stripMargin)))
    assert(e4.getMessage.contains("not be null") ||
      e4.getMessage.contains("must be a string"), e4.getMessage)
  }

  test("spec files are read on the driver: no Spark job, malformed files named") {
    val api = newApi
    graft.plans.OpRegistry.register("psj_id", df => df)
    val dir = Export.tempDir("graft_specjobs_")
    def spec(name: String, body: String): String = {
      val p = dir.resolve(name)
      java.nio.file.Files.write(p, body.getBytes("UTF-8"))
      p.toString
    }
    val ok = spec("psj.json",
      """{"steps": [{"name": "s", "op": "psj_id", "input": "docs"}]}""")
    val (opId, jobs) = jobsDuring(api.registerPipelineFile(ok))
    assert(opId == "pipeline.psj")
    assert(jobs == 0, s"registerPipelineFile ran $jobs Spark job(s)")
    // not JSON, and a top-level array: spec-shaped errors naming the file
    Seq(spec("torn.json", """{"steps": [{"name": "s", "op": "psj_id""""),
        spec("array.json", """[{"steps": [{"name": "s", "op": "psj_id", "input": "d"}]}]""")
    ).foreach { bad =>
      val e1 = intercept[IllegalArgumentException](api.registerPipelineFile(bad))
      assert(e1.getMessage.contains(bad), e1.getMessage)
      val e2 = intercept[IllegalArgumentException](api.runBatch(bad))
      assert(e2.getMessage.contains(bad), e2.getMessage)
    }
  }

  test("manifests: createOperation instantiates, run/queueManifest record config") {
    val api = newApi
    api.storeValue("mf1",
      Seq((1L, 10L, "a"), (2L, 60L, "b"), (3L, 80L, "c")).toDF("id", "qty", "s"),
      Some("mf_raw"))
    // create_operation: module type + config → registered operation id
    val opId = api.createOperation("table.filter", Map("where" -> "qty > 50"))
    assert(opId.startsWith("table.filter._m"))
    // deterministic + idempotent: same manifest → same id
    assert(api.createOperation("table.filter", Map("where" -> "qty > 50")) == opId)
    // a different config is a different operation instance
    assert(api.createOperation("table.filter", Map("where" -> "qty > 70")) != opId)
    // the instance is a first-class operation: info + runJob resolve it
    assert(api.operationInfo(opId).module == "table.filter")
    val (_, viaJob) = api.runJob(opId, "mf_raw")
    assert(viaJob.count() == 2L)
    // run_manifest: one-call form; manifest lands in the job's metadata
    val (jobId, out) = api.runManifest("table.select",
      Map("columns" -> "id,qty"), "mf_raw")
    assert(out.columns.toSeq == Seq("id", "qty") && out.count() == 3L)
    val items = api.metadata.forRef("job", jobId)
    assert(items.exists(i => i.key == "manifest" &&
      i.value == "table.select{columns=id,qty}"), items)
    // queue_manifest: async form, same metadata contract
    val qid = api.queueManifest("table.head", Map("n" -> "2"), "mf_raw")
    assert(api.getJobResult(qid).count() == 2L)
    assert(api.metadata.forRef("job", qid).exists(_.key == "manifest"))
    // bad manifests fail at create time, with the config named
    val e1 = intercept[IllegalArgumentException](
      api.createOperation("table.filter", Map("predicate" -> "qty > 50")))
    assert(e1.getMessage.contains("unknown config key"), e1.getMessage)
    // parse error surfaces eagerly at create time, not on first action
    intercept[Exception](
      api.createOperation("table.filter", Map("where" -> "qty >")))
    val e3 = intercept[NoSuchElementException](
      api.createOperation("no.such.module", Map.empty))
    assert(e3.getMessage.contains("not configurable"))
    // cid is length-prefix-canonical: configs whose flat 'k=v,k=v'
    // rendering collides still get DISTINCT operation ids (ADVICE r13)
    assert(graft.plans.OpRegistry.Manifest("m", Map("a" -> "1,b=2")).cid !=
      graft.plans.OpRegistry.Manifest("m", Map("a" -> "1", "b" -> "2")).cid)
    // find_operation_id: instantiated manifests resolve, others are None,
    // a bare operation id resolves to itself
    assert(api.findOperationId("table.filter", Map("where" -> "qty > 50")) ==
      Some(opId))
    assert(api.findOperationId("table.filter", Map("where" -> "never_ran")).isEmpty)
    assert(api.findOperationId("table2.union") == Some("table2.union"))
    // the configurable vocabulary is discoverable
    assert(graft.plans.OpRegistry.factoryNames.contains("dedup.minhash"))
  }

  test("copyArchive skips existing values; archive metadata round-trips") {
    val api = newApi
    api.storeValue("ca1", Seq((1L, "a")).toDF("id", "s"), Some("one"))
    api.storeValue("ca2", Seq((2L, "b"), (3L, "c")).toDF("id", "s"), Some("two"))
    val archA = Export.tempDir("graft_archA_").resolve("a").toString
    api.exportArchive(archA)
    // archive-level metadata: attached to the MANIFEST, not any value
    api.setArchiveMetadata(archA, "title", "corpus snapshot #1")
    api.setArchiveMetadata(archA, "licence", "CC-BY-4.0")
    api.setArchiveMetadata(archA, "title", "corpus snapshot") // latest wins
    assert(api.archiveInfo(archA).metadata ==
      Seq("licence" -> "CC-BY-4.0", "title" -> "corpus snapshot"))
    // a brace-bearing value must not truncate the metadata block: later
    // writes would silently drop the remaining entries (ADVICE r13)
    api.setArchiveMetadata(archA, "note", """json-ish {"k": "v"} trailer""")
    api.setArchiveMetadata(archA, "zlast", "after-brace write")
    assert(api.archiveInfo(archA).metadata == Seq(
      "licence" -> "CC-BY-4.0", "note" -> """json-ish {"k": "v"} trailer""",
      "title" -> "corpus snapshot", "zlast" -> "after-brace write"))
    // copy into a FRESH archive: full copy, metadata inherited
    val archB = Export.tempDir("graft_archB_").resolve("b").toString
    assert(api.copyArchive(archA, archB).sorted == Seq("ca1", "ca2"))
    assert(api.archiveInfo(archB).metadata.toMap.get("licence") == Some("CC-BY-4.0"))
    // a value that exists in both is SKIPPED, not duplicated; new ones copy
    api.storeValue("ca3", Seq((9L, "z")).toDF("id", "s"), Some("three"))
    val archC = Export.tempDir("graft_archC_").resolve("c").toString
    api.exportArchive(archC, values = Seq("ca2", "ca3"))
    assert(api.copyArchive(archC, archB) == Seq("ca3"))
    assert(api.copyArchive(archC, archB).isEmpty) // idempotent re-copy
    val infoB = api.archiveInfo(archB)
    assert(infoB.values.map(_.id).sorted == Seq("ca1", "ca2", "ca3"))
    assert(infoB.values.find(_.id == "ca2").get.rows == 2L) // not doubled
    // aliases merged (target wins on conflicts), and the copied archive
    // IMPORTS cleanly into a fresh context with lineage intact
    assert(infoB.aliases.toMap.get("three") == Some("ca3"))
    val api2 = new GraftApi(spark, Export.tempDir("graft_archimp_").toString)
    val ids = api2.importArchive(archB)
    assert(ids.sorted == Seq("ca1", "ca2", "ca3"))
    assert(api2.getValue("three").count() == 1L)
  }

  test("archive metadata of any length and content round-trips; older manifests load") {
    val api = newApi
    api.storeValue("am1", Seq((1L, "a")).toDF("id", "s"), Some("am_one"))
    val arch = Export.tempDir("graft_archmeta_").resolve("a").toString
    api.exportArchive(arch)
    val values = Seq(
      "long" -> "x" * 5000,
      "brace" -> "a } b {c}",
      "quote" -> "say \"hi\"",
      "tab" -> "a\tb",
      "ctl" -> "ctl\u0001x",
      "mixed" -> ("}\"\t\u0001\\" * 1000))
    values.foreach { case (k, v) => api.setArchiveMetadata(arch, k, v) }
    assert(api.archiveInfo(arch).metadata == values.sortBy(_._1))
    // the archive stays usable: store into it, then inspect it
    graft.registries.Archive.storeValueInArchive(Seq((2L, "b")).toDF("id", "s"), arch,
      "am2", Some("am_two"))
    val info = api.archiveInfo(arch)
    assert(info.values.map(_.id).sorted == Seq("am1", "am2"))
    assert(info.aliases.toMap.get("am_two").contains("am2"))
    assert(info.metadata == values.sortBy(_._1))

    // a manifest as earlier builds wrote it: '}' in metadata as the
    // escape u007d, control chars as lowercase u00xx escapes
    val u = "\\u"
    val old = Export.tempDir("graft_archold_").resolve("o")
    java.nio.file.Files.createDirectories(old)
    java.nio.file.Files.writeString(old.resolve("manifest.json"),
      """{"version":1,"values":[],"aliases":{},""" +
        s""""metadata":{"note":"json-ish {\\"k\\": \\"v\\"${u}007d trailer",""" +
        s""""raw":"c${u}001fd\\tx"}}""" + "\n")
    val oldInfo = api.archiveInfo(old.toString)
    assert(oldInfo.version == 1)
    assert(oldInfo.metadata == Seq(
      "note" -> "json-ish {\"k\": \"v\"} trailer", "raw" -> "c\u001fd\tx"))
    api.setArchiveMetadata(old.toString, "title", "t")
    assert(api.archiveInfo(old.toString).metadata.map(_._1) == Seq("note", "raw", "title"))
  }

  test("queryValue walks ::-paths into data columns and properties") {
    val api = newApi
    val df = Seq((1L, ("x", 10L)), (2L, ("y", 20L))).toDF("id", "s")
      .select(col("id"), struct(col("s._1").as("tag"), col("s._2").as("n")).as("rec"))
    api.storeValue("qv1", df, Some("nested"))
    // bare ref -> the value itself
    assert(api.queryValue("nested").asInstanceOf[org.apache.spark.sql.DataFrame]
      .count() == 2L)
    // data::<nested column path> -> projected frame (lazy, distributed)
    val tags = api.queryValue("qv1::data::rec::tag")
      .asInstanceOf[org.apache.spark.sql.DataFrame].collect().map(_.getString(0))
    assert(tags.sorted.toSeq == Seq("x", "y"))
    // properties -> footer-only record; single attr -> one value
    val props = api.queryValue("nested::properties").asInstanceOf[Map[String, String]]
    assert(props("rows") == "2" && props("aliases") == "nested")
    assert(api.queryValue("qv1::properties::rows") == "2")
    intercept[NoSuchElementException](api.queryValue("qv1::properties::ghost"))
    intercept[IllegalArgumentException](api.queryValue("qv1::nope"))
    // CLI face renders each shape
    assert(Cli.run(spark, Array("data", apiRootOf(api), "query", "qv1::properties::rows")) == "2")
  }

  private def apiRootOf(api: GraftApi): String = {
    // the context root is not exposed; store a probe value and read its
    // path's grandparent (values/<id> lives under <root>/values)
    api.storeValue("root_probe", Seq(1L).toDF("n"))
    new java.io.File(api.data.path("root_probe")).getParentFile.getParent
  }

  test("registerPipeline: pipelines are first-class operations, nestable as steps") {
    import graft.registries.WorkflowRegistry.OpStep
    val root = Export.tempDir("graft_rp_").toString
    val api = new GraftApi(spark, root)
    api.storeValue("rp1",
      Seq((1L, 10L, "x"), (2L, 60L, "y"), (3L, 80L, "z")).toDF("id", "qty", "s"),
      Some("rp_raw"))
    graft.plans.OpRegistry.register("rp_keep", df => df.filter(col("qty") > 50L))
    graft.plans.OpRegistry.register("rp_tag", df => df.withColumn("tag", lit("t")))
    // register a 2-step pipeline FROM A SPEC FILE (the runBatch shape)
    val specPath = Export.tempDir("graft_rp_spec_").resolve("curate.json")
    java.nio.file.Files.writeString(specPath,
      """{"pipeline_name": "curate",
        | "steps": [{"name": "keep", "op": "rp_keep", "input": "docs"},
        |           {"name": "tag",  "op": "rp_tag",  "input": "keep"}]}""".stripMargin)
    val opId = api.registerPipelineFile(specPath.toString)
    assert(opId == "pipeline.curate")
    // it is a first-class operation: catalog, info record, runJob
    assert(api.listPipelineIds().contains(opId))
    assert(api.listPipelineIds("curate") == Seq(opId))
    assert(api.operationInfo(opId).module == "pipeline")
    val (_, out) = api.runJob(opId, "rp_raw")
    assert(out.count() == 2L && out.columns.contains("tag"))
    // NESTED composition: a second pipeline calls the first AS A STEP,
    // then narrows through a manifest-instantiated operation
    val selId = api.createOperation("table.select", Map("columns" -> "id,tag"))
    val outer = api.registerPipeline("outer",
      Seq(OpStep("inner", opId, "src"), OpStep("narrow", selId, "inner")))
    val (_, out2) = api.runJob(outer, "rp_raw")
    assert(out2.columns.toSeq == Seq("id", "tag") && out2.count() == 2L)
    // lineage records the nesting: the outer run AND the inner
    // pipeline's own nested run are both in the provenance log
    val runs = api.lineage.records.map(_.run)
    assert(runs.exists(_.startsWith("pipeline.outer-run-")), runs)
    assert(runs.exists(_.startsWith("pipeline.curate-run-")), runs)
    // structure: free inputs, output = last declared step, stages
    val st = api.getPipelineStructure(outer)
    assert(st.inputFields == Seq("src") && st.outputField == "narrow")
    assert(st.stages == Seq(Seq("inner"), Seq("narrow")))
    val info = api.pipelineInfo(outer)
    assert(info.arity == 1 && info.persisted && info.doc.contains("inner->narrow"))
    assert(api.pipelinesInfo.map(_.structure.operationId).contains(opId))
    // two free inputs make a BINARY operation (first-appearance order)
    val paired = api.registerPipeline("paired",
      Seq(OpStep("j", "table2.join", "l+r")))
    assert(api.operationInfo(paired).inputType == "table+table")
    assert(api.getPipelineStructure(paired).inputFields == Seq("l", "r"))
    // refusals: non-pipeline id, >2 free inputs (not persisted), unknown op
    val e = intercept[IllegalArgumentException](api.getPipelineStructure("rp_keep"))
    assert(e.getMessage.contains("not a pipeline"))
    val e2 = intercept[IllegalArgumentException](api.registerPipeline("bad3",
      Seq(OpStep("a", "table2.join", "x+y"), OpStep("b", "table2.join", "a+z"))))
    assert(e2.getMessage.contains("1 or 2 free inputs"))
    assert(!api.pipelines.contains("pipeline.bad3"))
    intercept[NoSuchElementException](
      api.registerPipeline("badop", Seq(OpStep("a", "no.such.op", "x"))))
    // a custom id may never silently REPLACE a non-pipeline operation
    val eShadow = intercept[IllegalArgumentException](api.registerPipeline(
      "shadowy", Seq(OpStep("a", "rp_keep", "x")), Some("text.clean")))
    assert(eShadow.getMessage.contains("non-pipeline"))
    // direct self-reference refused at registration; an indirect cycle
    // (A -> B -> A via re-registration) fails AT RUN with the cycle
    // named, not a StackOverflowError
    val eSelf = intercept[IllegalArgumentException](api.registerPipeline(
      "selfy", Seq(OpStep("a", "pipeline.selfy", "x"))))
    assert(eSelf.getMessage.contains("invoke itself"))
    val cycA = api.registerPipeline("cyc_a", Seq(OpStep("s", "rp_keep", "in")))
    val cycB = api.registerPipeline("cyc_b", Seq(OpStep("s", cycA, "in")))
    api.registerPipeline("cyc_a", Seq(OpStep("s", cycB, "in"))) // now cyclic
    val eCyc = intercept[IllegalArgumentException](api.runJob(cycA, "rp_raw"))
    assert(eCyc.getMessage.contains("recursive pipeline invocation") &&
      eCyc.getMessage.contains("pipeline.cyc_a -> pipeline.cyc_b -> pipeline.cyc_a"),
      eCyc.getMessage)
    // cross-JVM: drop the live registrations, then a fresh context on the
    // same root re-registers every persisted pipeline operation
    graft.plans.OpRegistry.unregister(opId)
    graft.plans.OpRegistry.unregister(outer)
    val api2 = new GraftApi(spark, root)
    assert(api2.listPipelineIds().contains(opId))
    assert(api2.getPipelineStructure(outer) == st) // structure round-trips
    assert(api2.pipelineInfo(outer).persisted)
    val (_, out3) = api2.runJob(outer, "rp_raw")
    assert(out3.count() == 2L && out3.columns.toSeq == Seq("id", "tag"))
  }

  test("assembleFilterPipelineConfig chains filter operations into a runnable pipeline") {
    val api = newApi
    api.storeValue("afp1",
      Seq((1L, 10L, "ok"), (2L, 60L, "ok"), (3L, 80L, "bad"), (4L, 95L, "ok"))
        .toDF("id", "qty", "s"), Some("afp_raw"))
    val f1 = api.createOperation("table.filter", Map("where" -> "qty > 20"))
    val f2 = api.createOperation("table.filter", Map("where" -> "s = 'ok'"))
    val f3 = api.createOperation("table.head", Map("n" -> "1"))
    // a 3-filter chain: input field = the data type, each step consumes
    // its predecessor
    val steps = api.assembleFilterPipelineConfig("table", Seq(f1, f2, f3))
    assert(steps.size == 3 && steps.head.input == "table")
    assert(steps(1).input == steps(0).name && steps(2).input == steps(1).name)
    // the assembled config registers and RUNS end to end
    val opId = api.registerPipeline("screened", steps)
    val (_, out) = api.runJob(opId, "afp_raw")
    assert(out.count() == 1L)
    // duplicate filter ops get deduplicated auto step ids
    val dup = api.assembleFilterPipelineConfig("table", Seq(f1, f1))
    assert(dup.map(_.name).distinct.size == 2)
    // bare names resolve through the '<dataType>.<name>' convention
    val bare = api.assembleFilterPipelineConfig("text", Seq("clean", "nfc"))
    assert(bare.map(_.op) == Seq("text.clean", "text.nfc"))
    // unary endpoint consumes the filtered value
    val ep = api.assembleFilterPipelineConfig("table", Seq(f1, f2),
      endpoint = Some("profile.schema"), endpointStepId = Some("report"))
    assert(ep.last.name == "report" && ep.last.input == ep(1).name)
    // binary endpoint binds the filtered value first; the named field
    // stays a free input of the assembled pipeline
    val ep2 = api.assembleFilterPipelineConfig("table", Seq(f1),
      endpoint = Some("table2.join"), endpointInputField = Some("dim"))
    assert(ep2.last.input.endsWith("+dim"))
    val bId = api.registerPipeline("enriched", ep2)
    assert(api.getPipelineStructure(bId).inputFields == Seq("table", "dim"))
    // unknown filters refused with both tried names
    val e = intercept[NoSuchElementException](
      api.assembleFilterPipelineConfig("table", Seq("no_such")))
    assert(e.getMessage.contains("table.no_such"))
    // a binary op is not a filter
    val e2 = intercept[IllegalArgumentException](
      api.assembleFilterPipelineConfig("table", Seq("table2.union")))
    assert(e2.getMessage.contains("unary"))
    // assemble_render_pipeline: first matching target format wins; with
    // filters it becomes a filter chain ending in the render step
    val r1 = api.assembleRenderPipeline("table", Seq("string", "schema"))
    assert(r1 == Seq(graft.registries.WorkflowRegistry
      .OpStep("render_value", "render.table.schema", "table")), r1)
    val r2 = api.assembleRenderPipeline("table", Seq("profile"), filters = Seq(f1))
    assert(r2.size == 2 && r2.last.name == "render_value" &&
      r2.last.op == "render.table.profile" && r2.last.input == r2.head.name)
    // ...and it registers + runs like any assembled definition
    val rId = api.registerPipeline("render_profiled", r2)
    val (_, rOut) = api.runJob(rId, "afp_raw")
    assert(rOut.columns.contains("col_name") && rOut.count() > 0)
    // missing renderer refused, naming what IS registered
    val e3 = intercept[NoSuchElementException](
      api.assembleRenderPipeline("table", Seq("pdf")))
    assert(e3.getMessage.contains("registered targets") &&
      e3.getMessage.contains("schema"), e3.getMessage)
  }

  test("usePrettyPrint assembles the pretty_print operation type (base_api.py:2841)") {
    val api = newApi
    api.storeValue("pp_raw",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), Some("pp_in"))
    // the pretty_print registry is DISTINCT from render_value: same
    // (table, string) pair, different operation — kiara's two op types
    val pp = api.assembleRenderPipeline("table", Seq("string"), usePrettyPrint = true)
    assert(pp == Seq(graft.registries.WorkflowRegistry
      .OpStep("render_value", "pretty_print.table.as.string", "table")), pp)
    // ...and the registries really are distinct: render_value has NO
    // (table, string) op (string rendering was driver-side until now)
    intercept[NoSuchElementException](
      api.assembleRenderPipeline("table", Seq("string")))
    // the assembled chain registers + runs: value in, rendered VALUE out
    val opId = api.createOperation("table.head", Map("n" -> "2"))
    val chain = api.assembleRenderPipeline("table", Seq("string"),
      filters = Seq(opId), usePrettyPrint = true)
    assert(chain.size == 2 && chain.last.op == "pretty_print.table.as.string")
    val pId = api.registerPipeline("pp_chain", chain)
    val (_, out) = api.runJob(pId, "pp_in")
    assert(out.columns.toSeq == Seq("line_no", "line"))
    val lines = out.orderBy("line_no").collect().map(_.getString(1))
    // 2 filtered rows + header + 3 separators = 6 lines, header present
    assert(lines.length == 6, lines.toSeq)
    assert(lines.exists(l => l.contains("id") && l.contains("s")))
    // exactly 2 data rows survive the head-2 filter (limit picks any 2)
    assert(lines.count(l => l.startsWith("| ") && !l.contains("id")) == 2, lines.toSeq)
    // refusal names the pretty_print operation type, not render_value
    val e = intercept[NoSuchElementException](
      api.assembleRenderPipeline("table", Seq("pdf"), usePrettyPrint = true))
    assert(e.getMessage.contains("pretty_print"), e.getMessage)
    // 'any'-source registrations take kiara's short id form
    assert(graft.operators.Render.PrettyPrintOps.register(
      "any", "string", df => df) == "pretty_print.as.string")
  }

  test("registerArchive mounts an archive as a live store: read-through + write control") {
    val root = Export.tempDir("graft_mount_").toString
    val api = new GraftApi(spark, root)
    // build an archive in a SEPARATE context, then mount it here
    val src = new GraftApi(spark, Export.tempDir("graft_mount_src_").toString)
    src.storeValue("mv1", Seq((1L, "a"), (2L, "b")).toDF("id", "s"), Some("corpus"))
    val arch = Export.tempDir("graft_mount_arch_").resolve("team.kiarchive").toString
    src.exportArchive(arch)
    val name = api.registerArchive(arch)
    assert(name == "team") // basename, .kiarchive suffix stripped
    assert(api.listRegisteredArchives == Seq(("team", arch, false)))
    // read THROUGH the mount, no import: by value id and by archive alias
    assert(api.getValue("mv1").count() == 2L)
    assert(api.getValue("corpus").count() == 2L)
    assert(!api.data.exists("mv1")) // nothing was imported
    // the local registry wins over a mounted value of the same id
    api.storeValue("mv1", Seq((9L, "z")).toDF("id", "s"))
    assert(api.getValue("mv1").count() == 1L)
    // write refusal on a read-only mount
    val e = intercept[IllegalArgumentException](
      api.storeValueTo("team", "mv2", Seq((3L, "c")).toDF("id", "s")))
    assert(e.getMessage.contains("read-only"))
    // a writable mount accepts storeValueTo; the archive alias resolves
    api.registerArchive(arch, Some("teamrw"), allowWriteAccess = true)
    api.storeValueTo("teamrw", "mv2",
      Seq((3L, "c"), (4L, "d"), (5L, "e")).toDF("id", "s"), Some("extra"))
    assert(api.getValue("mv2").count() == 3L && api.getValue("extra").count() == 3L)
    assert(api.archiveInfo(arch).values.map(_.id).contains("mv2"))
    // existing archive ids are refused, never overwritten
    intercept[IllegalArgumentException](
      api.storeValueTo("teamrw", "mv2", Seq((1L, "x")).toDF("id", "s")))
    intercept[NoSuchElementException](
      api.storeValueTo("ghost", "v9", Seq((1L, "x")).toDF("id", "s")))
    // createIfNotExists: a fresh path becomes an EMPTY archive in place
    val fresh = Export.tempDir("graft_mount_new_").resolve("scratch").toString
    api.registerArchive(fresh, allowWriteAccess = true)
    assert(api.archiveInfo(fresh).values.isEmpty)
    api.storeValueTo("scratch", "sv1", Seq((1L, "q")).toDF("id", "s"))
    assert(api.getValue("sv1").count() == 1L)
    // refusals: missing archive with create disabled; both flags false
    intercept[IllegalArgumentException](api.registerArchive(
      Export.tempDir("graft_mount_no_").resolve("none").toString,
      createIfNotExists = false))
    intercept[IllegalArgumentException](api.registerArchive(arch,
      createIfNotExists = false, existingOk = false))
    // fresh-JVM re-mount: a new context on the same root still resolves
    val api2 = new GraftApi(spark, root)
    assert(api2.getValue("corpus").count() == 2L)
    assert(api2.listRegisteredArchives.map(_._1) == Seq("scratch", "team", "teamrw"))
    // a manifest-resolved value whose parquet is GONE is a diagnosable
    // error (path in the message), never a silent "no such value"
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$arch/values/mv2")).deleteRecursively()
    val eGone = intercept[Exception](api2.getValue("extra"))
    assert(eGone.getMessage.contains("mv2"), eGone.getMessage)
  }

  test("a LOCAL alias resolving to a mounted-only id reads through the mount (ADVICE r14)") {
    val api = new GraftApi(spark, Export.tempDir("graft_mntal_").toString)
    val src = new GraftApi(spark, Export.tempDir("graft_mntal_src_").toString)
    src.storeValue("shared_v1", Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val arch = Export.tempDir("graft_mntal_arch_").resolve("team").toString
    src.exportArchive(arch)
    api.registerArchive(arch)
    // the alias lives in THIS context's registry; the id only in the mount
    api.registerValueAlias("shared_v1", "latest")
    assert(api.getValue("latest").count() == 2L)
  }

  test("concurrent storeValueTo calls both land in the manifest (ADVICE r14 lock)") {
    val api = new GraftApi(spark, Export.tempDir("graft_mntcc_").toString)
    val arch = Export.tempDir("graft_mntcc_arch_").resolve("scratch").toString
    api.registerArchive(arch, allowWriteAccess = true)
    val dfs = (0 until 6).map(i => i -> Seq((i.toLong, s"v$i")).toDF("id", "s"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val futs = dfs.map { case (i, df) =>
      Future(api.storeValueTo("scratch", s"cc$i", df))
    }
    Await.result(Future.sequence(futs), 120.seconds)
    // without the per-archive write lock the read-modify-write races and
    // the manifest drops ids whose parquet dirs were written (orphans)
    val ids = api.archiveInfo(arch).values.map(_.id).toSet
    assert((0 until 6).forall(i => ids.contains(s"cc$i")), ids)
    (0 until 6).foreach(i => assert(api.getValue(s"cc$i").count() == 1L))
  }

  test("registerValueAlias, workflowAliasesInfo and isInternalDataType round out the catalog") {
    val api = newApi
    api.storeValue("rva1", Seq((1L, "a")).toDF("id", "s"))
    api.storeValue("rva2", Seq((2L, "b")).toDF("id", "s"))
    // alias an existing value; idempotent re-point to the SAME value ok
    api.registerValueAlias("rva1", "current")
    api.registerValueAlias("rva1", "current")
    assert(api.getValue("current").count() == 1L)
    // re-pointing to a DIFFERENT value needs allowOverwrite
    val e = intercept[IllegalArgumentException](
      api.registerValueAlias("rva2", "current"))
    assert(e.getMessage.contains("allowOverwrite"))
    api.registerValueAlias("rva2", "current", allowOverwrite = true)
    assert(api.getValue("current").head().getLong(0) == 2L)
    intercept[IllegalArgumentException](api.registerValueAlias("ghost", "g"))
    // workflow aliases info: alias -> resolved workflow's info record
    graft.plans.OpRegistry.register("rva_id", df => df)
    val wf = api.createWorkflow("rva_flow")
    wf.addStep("s1", "rva_id", "in")
    wf.save()
    api.setWorkflowAlias("rva_prod", "rva_flow")
    val wai = api.workflowAliasesInfo
    assert(wai.map(_._1) == Seq("rva_prod") && wai.head._2.name == "rva_flow")
    // data types: none are internal; unknown names refused
    assert(!api.isInternalDataType("string"))
    intercept[IllegalArgumentException](api.isInternalDataType("no_such_type"))
  }

  test("endpoint catalog is complete, documented and drift-checked") {
    val eps = GraftApi.endpoints
    assert(eps.size >= 50, s"expected >= 50 endpoints, got ${eps.size}")
    // complete by construction: reflection found the overloads too
    assert(eps.count(_.name == "listOperationIds") == 2)
    // drift check: every curated doc key names a REAL public member —
    // a renamed method fails here instead of rendering as undocumented
    val reflected = eps.map(_.name).toSet
    val undoc = GraftApi.documentedEndpointNames -- reflected
    assert(undoc.isEmpty, s"docs for nonexistent endpoints: $undoc")
    // and every reflected endpoint carries a doc line (discoverability —
    // the point of the renderer); a new public method must add its doc
    val missing = eps.filter(_.doc.isEmpty).map(_.name)
    assert(missing.isEmpty, s"endpoints without a doc line: $missing")
    // signatures render with short type names, no compiler mangling
    val run = eps.find(e => e.name == "runJob").get
    assert(run.signature == "runJob(String, String): Tuple2<String, Dataset<Row>>"
      || run.signature.startsWith("runJob(String, String)"))
    assert(eps.forall(e => !e.signature.contains("java.lang")))
  }
}
