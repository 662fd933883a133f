package graft

import org.apache.spark.sql.SparkSession
import graft.operators.{Profile, Render}

/** Command-line surface mirroring kiara's CLI (`kiara run`, `kiara data
  * list/explain`, `kiara operation list` — reference interfaces/cli/):
  *
  *   queries                          list registered query keys
  *   query <name> <sfDir> [rows]      run a query, print a bounded table
  *   tables <sfDir>                   tables with row counts
  *   profile <sfDir> <table> <col..>  one-pass column stats
  *   entry                            run the flagship query
  *   operations [filter...]           registered operations with docs
  *   operation <name>                 info record for one operation
  *   context <root> list              contexts under a base root (* = active)
  *   context <root> create <name>     create a context
  *   context <root> use <name>        switch the persisted active context
  *   context <root> current           show the active context name
  *   run <root> <op> <ref> [--save a] run an operation on a stored value
  *   run <root> --batch <spec.json>   run a pipeline defined in a spec file
  *   pipeline <root> list [filter..]  registered pipelines with step counts
  *   pipeline <root> explain <name>   step structure (step, op, input)
  *   workflow <root> list             workflows (+ persisted/in-memory)
  *   workflow <root> explain <name>   step structure for one workflow
  *   data <root> list [glob]          stored values: id, rows, aliases
  *   data <root> load <ref> [rows]    pretty-print a stored value
  *   data <root> explain <ref>        value info record (id/schema/lineage)
  *   data <root> filter <ref> <op>    apply an operation ([--save <alias>])
  *   data <root> import <id> <f> <p>  import a file as a stored value
  *   data <root> export <ref> <f> <p> export a stored value to a file
  *   archive export <root> <dir> [r..] bundle values+aliases+lineage
  *   archive import <root> <dir>      import an archive ([--no-aliases])
  *   metadata <root> list             attached metadata items
  *   metadata <root> add <ref> <k> <v> attach key=value ([--job] for jobs)
  *   metadata <root> find <keyGlob>   items by key glob
  *   metadata <root> explain <hash>   one item by content hash
  *   jobs <root> explain <id>         job record + recorded environment
  *   render item <t> <q> <sf> [--template <tpl>] render via a target
  *   render pipeline <t> <root> <n>   pipeline DAG as markdown/html/
  *                                    mermaid/script (target-last legacy
  *                                    order also accepted)
  *   render archive html <dir>        archive inspection as a html page
  *   render job script <root> <id>    one job as a runnable replay script
  *   type list                        data-type catalog (name -> spark sql)
  *   info config print                effective engine configuration
  *   --service <info> <verb...>       forward ANY verb above through a
  *                                    running `graft.Serve` daemon (warm
  *                                    session — no SparkSession cold
  *                                    start in this process)
  *
  * `run` is separated from `main` so specs can drive it on a shared
  * session and assert on the rendered output.
  */
object Cli {

  /** Optional `[rows]` CLI argument: a non-numeric value is a usage
    * error (IllegalArgumentException like every other malformed verb),
    * not a raw NumberFormatException out of `.toInt`. */
  private def rowsArg(rest: List[String]): Int =
    rest.headOption.map { s =>
      scala.util.Try(s.toInt).getOrElse(throw new IllegalArgumentException(
        s"expected a row count, got: $s"))
    }.getOrElse(20)

  def run(spark: SparkSession, args: Array[String]): String = args.toList match {
    case "queries" :: Nil =>
      SparkEntry.queries.keys.toSeq.sorted.mkString("\n")
    case "query" :: name :: sfDir :: rest =>
      val rows = rowsArg(rest)
      val fn = SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(
          s"unknown query: $name (see `queries` for the list)"))
      Render.prettyPrint(fn(spark, sfDir), rows)
    case "tables" :: sfDir :: Nil =>
      Tables.names.map(t => f"$t%-12s ${Tables.t(spark, sfDir, t).count()}%d rows").mkString("\n")
    case "profile" :: sfDir :: table :: cols if cols.nonEmpty =>
      Render.prettyPrint(Profile.profile(Tables.t(spark, sfDir, table), cols), 50)
    case "entry" :: Nil =>
      Render.prettyPrint(SparkEntry.entry(spark))
    // operation info surface (kiara operation list / explain)
    case "operations" :: filters =>
      graft.plans.Builtins.ensureRegistered()
      val ids = if (filters.isEmpty) graft.plans.OpRegistry.list
                else graft.plans.OpRegistry.find(filters: _*)
      ids.map { n =>
        f"$n%-24s ${graft.plans.OpRegistry.info(n).doc}"
      }.mkString("\n")
    case "operation" :: name :: Nil =>
      graft.plans.Builtins.ensureRegistered()
      val i = graft.plans.OpRegistry.info(name)
      s"id:     ${i.name}\nmodule: ${i.module}\ninput:  ${i.inputType}\n" +
        s"output: ${i.outputType}\ndoc:    ${i.doc}"
    // module-type catalog (kiara module list / explain)
    case "module" :: "list" :: Nil =>
      graft.plans.Builtins.ensureRegistered()
      graft.plans.OpRegistry.moduleTypesInfo.map { m =>
        f"${m.name}%-10s ${m.operations.size}%2d ops  ${m.implementing}%-28s ${m.doc}"
      }.mkString("\n")
    case "module" :: "explain" :: name :: Nil =>
      graft.plans.Builtins.ensureRegistered()
      val m = graft.plans.OpRegistry.moduleTypeInfo(name)
      s"module:       ${m.name}\nimplementing: ${m.implementing}\n" +
        s"input:        ${m.inputType}\noutput:       ${m.outputType}\n" +
        s"doc:          ${m.doc}\noperations:\n" +
        m.operations.map("  " + _).mkString("\n")
    // plugin catalog (kiara plugin list / explain)
    case "plugin" :: "list" :: Nil =>
      graft.plans.PluginRegistry.infos.map { p =>
        f"${p.name}%-18s ${p.implementing}%-44s provides: ${p.provides.mkString(", ")}"
      }.mkString("\n")
    case "plugin" :: "explain" :: name :: Nil =>
      val p = graft.plans.PluginRegistry.info(name)
      s"plugin:       ${p.name}\nimplementing: ${p.implementing}\n" +
        s"provides:     ${p.provides.mkString(", ")}\ndoc:          ${p.description}"
    // multi-context management (kiara context list / create / use)
    case "context" :: baseRoot :: "list" :: Nil =>
      val cx = new GraftContexts(spark, baseRoot)
      cx.listContextNames.map(n =>
        (if (n == cx.currentContextName) "* " else "  ") + n).mkString("\n")
    case "context" :: baseRoot :: "create" :: name :: Nil =>
      new GraftContexts(spark, baseRoot).createContext(name)
      s"created context: $name"
    case "context" :: baseRoot :: "use" :: name :: Nil =>
      new GraftContexts(spark, baseRoot).setActiveContext(name)
      s"active context: $name"
    case "context" :: baseRoot :: "current" :: Nil =>
      new GraftContexts(spark, baseRoot).currentContextName
    // archive inspection without importing (kiara_api.py:1237)
    case "archive" :: "info" :: dir :: Nil =>
      val info = graft.registries.Archive.archiveInfo(dir)
      val header = s"archive version ${info.version}: ${info.values.size} values, " +
        s"${info.aliases.size} aliases, ${info.lineageRecords} lineage records"
      val vals = info.values.map(v =>
        f"  ${v.id}%-24s ${v.rows}%10d rows ${v.sizeBytes}%12d bytes (${v.files}%d files)")
      val als = info.aliases.map { case (a, v) => s"  $a -> $v" }
      val meta = info.metadata.map { case (k, v) => s"  $k=$v" }
      (header +: vals ++: (if (als.isEmpty) Seq.empty else "aliases:" +: als) ++:
        (if (meta.isEmpty) Seq.empty else "archive metadata:" +: meta)).mkString("\n")
    // archive-to-archive copy + archive-level metadata
    // (kiara base_api.py:2496 copy_archive, :2337 set_archive_metadata_value)
    case "archive" :: "copy" :: sourceDir :: targetDir :: rest
        if rest.isEmpty || rest == List("--no-aliases") =>
      val ids = graft.registries.Archive.copyArchive(sourceDir, targetDir,
        noAliases = rest.nonEmpty)
      if (ids.isEmpty) "nothing to copy (target already has every value)"
      else s"copied ${ids.size} values into $targetDir: ${ids.sorted.mkString(", ")}"
    // mount an archive as a named store (kiara register_archive,
    // base_api.py:2220); reads resolve through it without import
    case "archive" :: "register" :: root :: dir :: rest =>
      var name: Option[String] = None
      var writable = false
      var args2 = rest
      while (args2.nonEmpty) args2 match {
        case "--name" :: n :: t => name = Some(n); args2 = t
        case "--writable" :: t  => writable = true; args2 = t
        case other => throw new IllegalArgumentException(
          s"archive register: unexpected args ${other.mkString(" ")} " +
            "(only --name <name>, --writable)")
      }
      val api = new GraftApi(spark, root)
      val n = api.registerArchive(dir, name, allowWriteAccess = writable)
      s"archive registered: $n -> $dir (${if (writable) "writable" else "read-only"})"
    case "archive" :: "mounts" :: root :: Nil =>
      val ms = new GraftApi(spark, root).listRegisteredArchives
      if (ms.isEmpty) "no archives registered"
      else ms.map { case (n, d, w) =>
        f"$n%-20s ${if (w) "rw" else "ro"}  $d"
      }.mkString("\n")
    case "archive" :: "meta" :: dir :: key :: value :: Nil =>
      graft.registries.Archive.setArchiveMetadata(dir, key, value)
      s"archive metadata set: $key=$value"
    // value + context info records (kiara_api.py:944,529)
    case "value" :: root :: "info" :: ref :: Nil =>
      val i = new GraftApi(spark, root).valueInfo(ref)
      s"id:       ${i.id}\nschema:   ${i.schema}\nrows:     ${i.rows}\n" +
        s"bytes:    ${i.sizeBytes}\nproduced: ${i.producedBy.getOrElse("-")}\n" +
        s"aliases:  ${if (i.aliases.isEmpty) "-" else i.aliases.mkString(", ")}\n" +
        s"metadata: ${if (i.metadata.isEmpty) "-" else i.metadata.mkString(", ")}"
    // value-metadata registry (kiara metadata list/add/explain,
    // reference registries/metadata/__init__.py:94,203,233,309)
    case "metadata" :: root :: "list" :: Nil =>
      val items = new GraftApi(spark, root).findMetadataItems()
      if (items.isEmpty) "no metadata items"
      else items.map(m =>
        f"${m.refType}%-6s ${m.refId}%-18s ${m.key}%-20s ${m.value}").mkString("\n")
    case "metadata" :: root :: "add" :: ref :: key :: value :: rest
        if rest.isEmpty || rest == List("--job") =>
      val refType = if (rest.nonEmpty) "job" else "value"
      val h = new GraftApi(spark, root).registerMetadata(ref, key, value, refType)
      s"attached: $key -> $ref ($refType), item hash $h"
    case "metadata" :: root :: "find" :: keyGlob :: Nil =>
      val items = new GraftApi(spark, root).findMetadataItems(keyGlob)
      if (items.isEmpty) "no matching metadata items"
      else items.map(m =>
        f"${m.refType}%-6s ${m.refId}%-18s ${m.key}%-20s ${m.value}").mkString("\n")
    case "metadata" :: root :: "explain" :: hash :: Nil =>
      val m = new GraftApi(spark, root).metadataItemWithHash(hash).getOrElse(
        throw new IllegalArgumentException(s"no metadata item with hash: $hash"))
      s"hash:  ${m.hash}\nkey:   ${m.key}\nvalue: ${m.value}\n" +
        s"ref:   ${m.refType} ${m.refId}"
    // one job's full record incl. the environment that ran it (kiara
    // jobs explain; environment per registries/environment/__init__.py)
    case "jobs" :: root :: "explain" :: jobId :: Nil =>
      val api = new GraftApi(spark, root)
      val j = api.jobInfo(jobId)
      val env = api.jobEnvironment(jobId)
      s"job:       ${j.jobId}\nstate:     ${j.state}\n" +
        s"operation: ${j.operation}\ninputs:    ${j.inputs.mkString(", ")}\n" +
        s"schema:    ${j.outputSchema}\n" +
        s"comment:   ${j.comment.getOrElse("-")}\n" +
        (env match {
          case None => "environment: (not recorded)"
          case Some(e) => s"environment: ${e.cid}\n" +
            e.fields.map { case (k, v) => f"  $k%-30s $v" }.mkString("\n")
        })
    // rendered job-info table (kiara's jobs CLI): StepRecord + state +
    // comment in one pass, first comment line only (empty-safe)
    case "jobs" :: root :: "list" :: Nil =>
      val infos = new GraftApi(spark, root).jobsInfo
      if (infos.isEmpty) "no jobs recorded"
      else infos.map { j =>
        val comment = j.comment
          .flatMap(_.linesIterator.nextOption())
          .filter(_.nonEmpty)
          .map(first => s"  # $first").getOrElse("")
        f"${j.jobId}%-12s ${j.state}%-8s ${j.operation}%-24s " +
          s"inputs=${j.inputs.mkString(",")}$comment"
      }.mkString("\n")
    case "context" :: baseRoot :: "info" :: Nil =>
      val i = new GraftContexts(spark, baseRoot).currentContext.contextInfo
      s"root:       ${i.root}\nvalues:     ${i.values}\naliases:    ${i.aliases}\n" +
        s"jobs:       ${i.jobs}\nworkflows:  ${i.workflows}\noperations: ${i.operations}"
    // run an operation on a stored value (kiara's primary verb,
    // reference interfaces/cli/run.py): records the job + lineage,
    // optionally saves the output under an alias (`--save`), prints a
    // bounded rendering of the result
    // batch mode (kiara `kiara run pipeline.yaml`, python_api/batch.py):
    // the whole pipeline lives in a json spec file
    case "run" :: root :: "--batch" :: spec :: Nil =>
      val api = new GraftApi(spark, root)
      val (runId, saved) = api.runBatch(spec)
      s"batch run: $runId\n" + (
        if (saved.isEmpty) "(no save targets)"
        else saved.map { case (step, alias, vid) =>
          f"  $step%-20s -> alias '$alias' ($vid)" }.mkString("\n"))
    // configured-module run (kiara `run <module_type> key=value ...`,
    // base_api.py:2956 run_manifest): instantiate with per-call config
    case "run" :: root :: "--manifest" :: moduleType :: valueRef :: cfg =>
      val config = cfg.map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"manifest config must be key=value, got: $kv")
        kv.substring(0, i) -> kv.substring(i + 1)
      }.toMap
      val (jobId, out) = new GraftApi(spark, root)
        .runManifest(moduleType, config, valueRef)
      s"job: $jobId (manifest $moduleType)\n" + Render.prettyPrint(out, 10)
    case "run" :: root :: operation :: valueRef :: rest =>
      val api = new GraftApi(spark, root)
      graft.plans.Builtins.ensureRegistered()
      val (jobId, out) = api.runJob(operation, valueRef)
      val saved = rest match {
        case "--save" :: alias :: Nil =>
          api.storeValue(s"$jobId-out", out, Some(alias))
          s"\nsaved: $jobId-out (alias: $alias)"
        case Nil => ""
        case other => throw new IllegalArgumentException(
          s"run: unexpected args ${other.mkString(" ")} (only --save <alias>)")
      }
      s"job: $jobId\n" + Render.prettyPrint(out, 10) + saved
    // pipeline structure surface (kiara pipeline list / explain,
    // reference interfaces/cli/pipeline/commands.py:30,100): graft
    // pipelines are the registry's named step-sequences
    case "pipeline" :: root :: "list" :: filters =>
      val api = new GraftApi(spark, root)
      val names = api.workflows.list
        .filter(n => filters.forall(f => n.toLowerCase.contains(f.toLowerCase)))
      if (names.isEmpty) "no pipelines registered"
      else names.map { n =>
        f"$n%-24s ${api.workflows.describe(n).size}%2d steps"
      }.mkString("\n")
    case "pipeline" :: root :: "explain" :: name :: Nil =>
      val steps = new GraftApi(spark, root).workflows.describe(name)
      s"pipeline: $name\nsteps:\n" + steps.map(s =>
        f"  ${s.name}%-20s op=${s.op}%-24s input=${s.input}").mkString("\n")
    // pipelines as first-class operations (kiara register_pipeline,
    // base_api.py:1277; catalog :1085-:1220)
    case "pipeline" :: root :: "register" :: spec :: rest =>
      val api = new GraftApi(spark, root)
      val opId = rest match {
        case "--id" :: id :: Nil => api.registerPipelineFile(spec, Some(id))
        case Nil                 => api.registerPipelineFile(spec)
        case other => throw new IllegalArgumentException(
          s"pipeline register: unexpected args ${other.mkString(" ")} (only --id <opId>)")
      }
      val s = api.getPipelineStructure(opId)
      s"pipeline registered: $opId (${s.steps.size} steps, " +
        s"inputs ${s.inputFields.mkString("+")}, output ${s.outputField})"
    case "pipeline" :: root :: "ops" :: filters =>
      val api = new GraftApi(spark, root)
      val ids = api.listPipelineIds(filters: _*)
      if (ids.isEmpty) "no pipeline operations registered"
      else ids.map { id =>
        val st = api.getPipelineStructure(id)
        f"$id%-32s ${st.steps.size}%2d steps  in=${st.inputFields.mkString("+")}  out=${st.outputField}"
      }.mkString("\n")
    case "pipeline" :: root :: "structure" :: opId :: Nil =>
      val s = new GraftApi(spark, root).getPipelineStructure(opId)
      s"pipeline operation: ${s.operationId}\n" +
        s"inputs: ${s.inputFields.mkString(", ")}\noutput: ${s.outputField}\n" +
        s"stages: ${s.stages.map(_.mkString("[", " ", "]")).mkString(" -> ")}\nsteps:\n" +
        s.steps.map(st =>
          f"  ${st.name}%-20s op=${st.op}%-24s input=${st.input}").mkString("\n")
    case "pipeline" :: root :: "info" :: opId :: Nil =>
      val api = new GraftApi(spark, root)
      val i = api.pipelineInfo(opId)
      s"pipeline operation: ${i.structure.operationId}\n" +
        s"doc: ${i.doc}\narity: ${i.arity}\npersisted: ${i.persisted}\n" +
        s"stages: ${i.structure.stages.map(_.mkString("[", " ", "]")).mkString(" -> ")}"
    // workflow registry surface (kiara workflow list / explain,
    // reference interfaces/cli/workflow/commands.py)
    case "workflow" :: root :: "list" :: Nil =>
      val api = new GraftApi(spark, root)
      val infos = api.workflowsInfo
      if (infos.isEmpty) "no workflows registered"
      else infos.map { i =>
        val kind = if (i.persisted) "persisted" else "in-memory"
        val als = if (i.aliases.isEmpty) "" else s"  aka ${i.aliases.mkString(",")}"
        val snaps = if (i.savedStates == 0) "" else s"  ${i.savedStates} snapshot(s)"
        f"${i.name}%-24s ${i.steps.size}%2d steps  $kind$als$snaps"
      }.mkString("\n")
    case "workflow" :: root :: "explain" :: name :: Nil =>
      val i = new GraftApi(spark, root).workflowInfo(name)
      val kind = if (i.persisted) "persisted" else "in-memory"
      val head = s"workflow: ${i.name} ($kind)" +
        (if (i.aliases.isEmpty) "" else s"\naliases: ${i.aliases.mkString(", ")}") +
        (if (i.inputFields.isEmpty) "" else s"\ninputs: ${i.inputFields.mkString(", ")}") +
        (if (i.savedStates == 0) ""
         else s"\nsnapshots: ${i.savedStates} (latest ${i.lastStateId.getOrElse("-")})")
      head + "\nsteps:\n" + i.steps.map(s =>
        f"  ${s.name}%-20s op=${s.op}%-24s input=${s.input}").mkString("\n")
    // register an alias over a persisted workflow (base_api.py:3366 family)
    case "workflow" :: root :: "alias" :: alias :: wf :: Nil =>
      new GraftApi(spark, root).setWorkflowAlias(alias, wf)
      s"workflow alias set: $alias -> $wf"
    // load + pretty-print a stored value (kiara data load,
    // reference interfaces/cli/data/commands.py:531)
    // ::-path sub-value query (kiara query_value, base_api.py:1449)
    case "data" :: root :: "query" :: path :: rest if rest.size <= 1 =>
      new GraftApi(spark, root).queryValue(path) match {
        case df: org.apache.spark.sql.DataFrame =>
          Render.prettyPrint(df, rowsArg(rest))
        case m: Map[_, _] => m.asInstanceOf[Map[String, String]].toSeq.sorted
          .map { case (k, v) => f"$k%-12s $v" }.mkString("\n")
        case other => other.toString
      }
    case "data" :: root :: "load" :: ref :: rest if rest.size <= 1 =>
      val rows = rowsArg(rest)
      Render.prettyPrint(new GraftApi(spark, root).getValue(ref), rows)
    // value detail record (kiara data explain, commands.py:215 — same
    // info record the `value <root> info` verb renders)
    case "data" :: root :: "explain" :: ref :: Nil =>
      run(spark, Array("value", root, "info", ref))
    // apply a registered operation to a stored value (kiara data
    // filter, commands.py:699): records job + lineage like `run`
    case "data" :: root :: "filter" :: ref :: operation :: rest =>
      run(spark, Array("run", root, operation, ref) ++ rest)
    // single-value import/export (kiara data import/export,
    // commands.py:361,312) over the Convert/Export format dispatch
    case "data" :: root :: "import" :: id :: format :: path :: Nil =>
      val api = new GraftApi(spark, root)
      val df = api.importValue(id, format, path)
      s"imported: $id (${df.count()} rows from $path)"
    case "data" :: root :: "export" :: ref :: format :: path :: Nil =>
      new GraftApi(spark, root).exportValue(ref, format, path)
      s"exported: $ref -> $path ($format)"
    // archive round-trip (kiara archive export/import,
    // reference interfaces/cli/archive/commands.py:46,82)
    case "archive" :: "export" :: root :: targetDir :: refs =>
      val ids = new GraftApi(spark, root).exportArchive(targetDir, refs)
      s"exported archive: $targetDir (${ids.size} values: ${ids.sorted.mkString(", ")})"
    case "archive" :: "import" :: root :: sourceDir :: rest
        if rest.isEmpty || rest == List("--no-aliases") =>
      val ids = new GraftApi(spark, root)
        .importArchive(sourceDir, noAliases = rest.nonEmpty)
      s"imported archive: ${ids.size} values: ${ids.sorted.mkString(", ")}"
    // stored-value listing over a context root (kiara data list,
    // reference interfaces/cli/data/commands.py): id, rows, aliases
    case "data" :: root :: "list" :: globs if globs.size <= 1 =>
      val api = new GraftApi(spark, root)
      val ids = api.findValues(globs.headOption.getOrElse("*"))
      if (ids.isEmpty) "no values stored"
      else {
        val byValue = api.findAliases().groupBy(_._2)
        ids.map { id =>
          val i = api.valueInfo(id)
          val als = byValue.getOrElse(id, Seq.empty).map(_._1)
          f"$id%-24s ${i.rows}%10d rows" +
            (if (als.isEmpty) "" else s"  aliases: ${als.mkString(", ")}")
        }.mkString("\n")
      }
    // data-type catalog (kiara type list,
    // reference interfaces/cli/type/commands.py)
    case "type" :: "list" :: Nil =>
      graft.sources.TypeMap.toSpark.toSeq.sortBy(_._1)
        .map { case (n, t) => f"$n%-12s -> ${t.sql}" }.mkString("\n")
    // effective engine configuration (kiara info config print,
    // reference interfaces/cli/info/commands.py:29 — the plugin half
    // of the info group is the existing plugin list/explain verbs)
    case "info" :: "config" :: "print" :: Nil =>
      val c = spark.sparkContext.getConf
      val keys = Seq("spark.master", "spark.sql.shuffle.partitions",
        "spark.sql.session.timeZone", "spark.sql.ansi.enabled",
        "spark.sql.adaptive.enabled",
        "spark.sql.legacy.parquet.nanosAsLong")
      val conf = keys.map(k =>
        f"$k%-42s ${spark.conf.getOption(k).orElse(c.getOption(k)).getOrElse("-")}")
      (s"spark:   ${org.apache.spark.SPARK_VERSION}" +:
        s"scala:   ${scala.util.Properties.versionNumberString}" +: conf)
        .mkString("\n")
    // renderer catalog + dispatch (kiara render list-renderers / render
    // item, reference interfaces/cli/render/commands.py:60,79)
    case "render" :: "list-renderers" :: Nil =>
      graft.plans.Builtins.ensureRegistered() // built-in value renderers
      (Render.renderers.map { case (n, d) => f"$n%-10s $d" } ++
        Render.pipelineRenderers.map { case (n, d) => f"pipeline:$n%-10s $d" } ++
        Render.apiRenderers.map { case (n, d) => f"api:$n%-10s $d" } ++
        Render.ValueRenderOps.list.map { case (s, t, op) =>
          f"value:$s->$t%-10s registered value renderer (operation $op)" })
        .mkString("\n")
    // API-doc renderer (kiara render base_api, reference
    // renderers/included_renderers/api/base_api.py:40): the endpoint
    // catalog itself rendered into docs — name, signature, one-line doc
    // `kiara_api` renders the catalog into SOURCE CODE (base_api.py:165
    // BaseToKiaraApiRenderer): an optional template file supplies the
    // marker-delimited shell the endpoint block is injected into
    case "render" :: "api" :: "kiara_api" :: rest if rest.size <= 1 =>
      val template = rest.headOption.map { f =>
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(f)), "UTF-8")
      }
      Render.apiScala(GraftApi.endpoints, template)
    case "render" :: "api" :: target :: Nil =>
      target match {
        case "markdown" => Render.apiMarkdown(GraftApi.endpoints)
        case "html" => Render.apiHtml(GraftApi.endpoints)
        case other => throw new IllegalArgumentException(
          s"render api: unknown target '$other' (available: " +
            Render.apiRenderers.map(_._1).mkString(", ") + ")")
      }
    // pipeline renderers (kiara render --source-type pipeline item,
    // reference renderers/included_renderers/pipeline.py:60,91,197,235).
    // Canonical arg order is target-first like `render item <target> ...`;
    // the pre-r10 target-last order stays accepted (target detected by
    // membership in the renderer catalog, renderer names and roots/names
    // can't be confused: a root is a path, a target is one of 4 words)
    case "render" :: "pipeline" :: a :: b :: c :: Nil =>
      val targets = Render.pipelineRenderers.map(_._1).toSet
      // a legacy target-last invocation whose ROOT directory is literally
      // named like a renderer target (a relative path 'markdown'/'html')
      // must not be mis-parsed as target-first — but the dir-existence
      // heuristic alone can also swap a LEGITIMATE target-first call
      // (`render pipeline markdown <root> markdown`, pipeline named
      // 'markdown') whenever a ./markdown dir happens to exist. When both
      // orders are syntactically valid, pick one only if exactly one
      // candidate root is a real directory; otherwise refuse loudly.
      def isDir(p: String) =
        java.nio.file.Files.isDirectory(java.nio.file.Paths.get(p))
      val (target, root, name) =
        if (targets.contains(a) && targets.contains(c)) {
          val lastRootIsDir = isDir(a)  // target-last reading: root = a
          val firstRootIsDir = isDir(b) // target-first reading: root = b
          if (lastRootIsDir && !firstRootIsDir) (c, a, b)
          else if (firstRootIsDir && !lastRootIsDir) (a, b, c)
          else throw new IllegalArgumentException(
            s"render pipeline: ambiguous argument order ('$a' and '$c' are " +
              "both renderer targets and the root cannot be inferred); " +
              "use an absolute or ./-prefixed root path")
        }
        else if (targets.contains(a)) (a, b, c)
        else if (targets.contains(c)) (c, a, b)
        else throw new IllegalArgumentException(
          s"render pipeline: neither '$a' nor '$c' is a renderer target " +
            s"(available: ${targets.toSeq.sorted.mkString(", ")})")
      val steps = new GraftApi(spark, root).workflows.describe(name)
      Render.pipeline(name, steps.map(s => (s.name, s.op, s.input)), target)
    // archive renderer (kiara ArchiveRendererHtml,
    // reference renderers/included_renderers/archive.py:55): the
    // metadata-only archive inspection as a static html page
    case "render" :: "archive" :: a :: b :: Nil =>
      val dir =
        if (a == "html") b
        else if (b == "html") a
        else throw new IllegalArgumentException(
          s"render archive: unknown target (expected 'html' as one of '$a'/'$b')")
      Render.archiveHtml(graft.registries.Archive.archiveInfo(dir))
    // job replay renderer (kiara JobDescPythonScriptRenderer,
    // reference renderers/included_renderers/job.py:56): one recorded
    // job as a runnable script over OpRegistry
    case "render" :: "job" :: a :: b :: c :: Nil =>
      val (root, id) =
        if (a == "script") (b, c)
        else if (c == "script") (a, b)
        else throw new IllegalArgumentException(
          s"render job: unknown target (expected 'script' first or last, got '$a' ... '$c')")
      val j = new GraftApi(spark, root).jobInfo(id)
      if (j.inputs.isEmpty) throw new IllegalArgumentException(
        s"job $id has no recorded input to replay")
      Render.jobScript(id, j.operation, j.inputs.head)
    case "render" :: "item" :: target :: name :: sfDir :: rest =>
      // kiara render item --template (renderers/jinja.py): the template
      // travels as an explicit flag so row counts stay unambiguous
      val (tpl, rowsRest) = rest match {
        case "--template" :: t :: more => (Some(t), more)
        case other                     => (None, other)
      }
      val fn = SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(
          s"unknown query: $name (see `queries` for the list)"))
      graft.plans.Builtins.ensureRegistered() // value-renderer fall-through
      Render.as(target, fn(spark, sfDir), rowsArg(rowsRest), tpl)
    case other =>
      throw new IllegalArgumentException(
        s"usage: queries | query <name> <sfDir> [rows] | tables <sfDir> | " +
          s"profile <sfDir> <table> <col...> | entry | " +
          s"operations [filter...] | operation <name> | " +
          s"module list|explain <name> | plugin list|explain <name> | " +
          s"context <root> list|create <name>|use <name>|current|info | " +
          s"archive info <dir> | archive export <root> <dir> [refs...] | " +
          s"archive import <root> <dir> [--no-aliases] | " +
          s"archive register <root> <dir> [--name <n>] [--writable] | " +
          s"archive mounts <root> | " +
          s"value <root> info <ref> | jobs <root> list|explain <id> | " +
          s"metadata <root> list|add <ref> <key> <value> [--job]" +
          s"|find <keyGlob>|explain <hash> | " +
          s"render list-renderers | " +
          s"render item <target> <query> <sfDir> [--template <tpl>] [rows] | " +
          s"render pipeline <target> <root> <name> | " +
          s"render archive html <dir> | render job script <root> <id> | " +
          s"render api markdown|html | " +
          s"run <root> <operation> <valueRef> [--save <alias>] | " +
          s"run <root> --batch <spec.json> | " +
          s"pipeline <root> list|explain <name>|register <spec.json> [--id <opId>]" +
          s"|ops [filter...]|structure <opId>|info <opId> | " +
          s"workflow <root> list|explain <name> | " +
          s"data <root> list [glob]|load <ref> [rows]|explain <ref>" +
          s"|filter <ref> <op> [--save <alias>]" +
          s"|import <id> <fmt> <path>|export <ref> <fmt> <path> | " +
          s"type list | info config print " +
          s"(got: ${other.mkString(" ")})")
  }

  /** CLI→running-service proxy (kiara zmq/client.py:32 request_cli →
    * interfaces/cli proxy path): forward ONE CLI invocation through a
    * live [[Serve]] daemon's `cli` endpoint, so the call rides the
    * daemon's warm SparkSession instead of paying a full cold start.
    * The info file is the daemon's registration (written by
    * `graft.Serve tcp <port> <infoFile>`, kiara's zmq lock-file twin).
    * Returns the response's captured stdout; a service-side failure
    * (non-empty stderr / error field) raises — parity with the local
    * path's exception surface. */
  def proxy(infoFile: String, args: Seq[String]): String = {
    import graft.registries.Jsonl
    require(args.nonEmpty, "usage: Cli --service <info-file> <subcommand...>")
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(infoFile)), "UTF-8")
    val host = """"host"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1))
      .getOrElse(throw new IllegalArgumentException(
        s"no host in service info file $infoFile: ${txt.trim}"))
    val port = """"port"\s*:\s*(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toInt)
      .getOrElse(throw new IllegalArgumentException(
        s"no port in service info file $infoFile: ${txt.trim}"))
    val line = args.map(a => "\"" + Jsonl.esc(a) + "\"")
      .mkString("""{"endpoint":"cli","args":[""", ",", "]}")
    val resp = Serve.request(host, port, line)
    // linear scan, not a regex: a query response's stdout can be many
    // KB of escaped table text, and java.util.regex recurses one stack
    // frame per character on (x|y)* alternations — a large payload
    // overflows the stack. The field layout is fixed by Serve's ok().
    def field(k: String): Option[String] = {
      val tag = "\"" + k + "\":\""
      val i = resp.indexOf(tag)
      if (i < 0) None
      else {
        val sb = new StringBuilder
        var j = i + tag.length
        var done = false
        while (!done && j < resp.length) {
          resp.charAt(j) match {
            case '\\' if j + 1 < resp.length =>
              sb.append(resp.charAt(j)).append(resp.charAt(j + 1)); j += 2
            case '"' => done = true
            case c   => sb.append(c); j += 1
          }
        }
        Some(Jsonl.unesc(sb.toString))
      }
    }
    field("error").foreach(e =>
      throw new IllegalStateException(s"service error: $e"))
    field("stderr").filter(_.nonEmpty).foreach(e =>
      throw new IllegalStateException(e))
    field("stdout").getOrElse(throw new IllegalStateException(
      s"malformed service response: $resp"))
  }

  def main(args: Array[String]): Unit = args.toList match {
    // proxy mode: no SparkSession built here — the daemon's warm
    // session does the work and this process just prints the response
    case "--service" :: infoFile :: rest =>
      println(proxy(infoFile, rest))
    case _ =>
      val cpus = Sessions.cpus
      val spark = Sessions.create(cpus,
        sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      println(run(spark, args))
      spark.stop()
  }
}
