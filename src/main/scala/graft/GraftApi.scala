package graft

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.plans.{Builtins, OpRegistry, Pipeline}
import graft.registries.{AliasRegistry, Archive, CommentStore, DataRegistry, EnvironmentRegistry, LineageRegistry, MetadataRegistry, ParquetMeta, PipelineRegistry, WorkflowRegistry}
import graft.registries.WorkflowRegistry.OpStep
import graft.sources.{Convert, Export, TypeMap}

object GraftApi {
  /** Queued-job state (kiara_api.py:1342 `get_job`): terminal states are
    * `success` and `failed`. */
  final case class JobStatus(jobId: String, state: String, error: Option[String])

  /** Lightweight value info (kiara_api.py:944 `retrieve_values_info`):
    * schema + size from parquet footers/filesystem only (no data scan),
    * plus the lineage step that produced the value, if any, and the
    * metadata items attached to it (key=value, MetadataRegistry). */
  final case class ValueInfo(id: String, schema: String, rows: Long,
                             sizeBytes: Long, producedBy: Option[String],
                             aliases: Seq[String],
                             metadata: Seq[String] = Seq.empty)

  /** Context summary (kiara_api.py:529 `get_context_info`). */
  final case class ContextInfo(root: String, values: Int, aliases: Int,
                               jobs: Int, workflows: Int, operations: Int)

  /** Rendered job-info record (kiara_api.py:379 get_all_jobs_info_data,
    * :1419 retrieve_job_info, :1428 retrieve_jobs_info): the persisted
    * StepRecord joined with runtime status and the job's comment — what
    * kiara's `jobs` CLI renders per row. */
  final case class JobInfo(jobId: String, operation: String, inputs: Seq[String],
                           outputSchema: String, state: String,
                           comment: Option[String])

  /** One row of the API endpoint catalog (render api). */
  final case class Endpoint(name: String, signature: String, doc: String)

  /** Pipeline structure record (kiara models/module/pipeline/structure.py
    * PipelineStructure, surfaced by base_api.py:1152
    * get_pipeline_structure): steps, free input fields, the output value,
    * and the topological processing stages. */
  final case class PipelineStructure(operationId: String,
                                     steps: Seq[graft.registries.WorkflowRegistry.OpStep],
                                     inputFields: Seq[String], outputField: String,
                                     stages: Seq[Seq[String]])

  /** Augmented pipeline record (base_api.py:1184 retrieve_pipeline_info /
    * PipelineInfo.create_from_instance): structure + doc + arity +
    * persistence. */
  final case class PipelineOpInfo(structure: PipelineStructure, doc: String,
                                  arity: Int, persisted: Boolean)

  /** Rendered workflow record (base_api.py:3424 retrieve_workflow_info,
    * WorkflowInfo.create_from_workflow): name + aliases + structure +
    * snapshot history in one catalog row. */
  final case class WorkflowInfo(name: String, aliases: Seq[String],
                                steps: Seq[graft.registries.WorkflowRegistry.OpStep],
                                inputFields: Seq[String], persisted: Boolean,
                                savedStates: Int, lastStateId: Option[String])

  /** One-line docs for the endpoint catalog. Names must match real public
    * GraftApi members — GraftApiSpec cross-checks this map against the
    * reflected method list, so a renamed method fails CI instead of
    * silently rendering as undocumented. */
  private val endpointDocs: Map[String, String] = Map(
    "spark" -> "the live SparkSession this context runs on",
    "registryEvents" -> "event bus: every registry mutation, in order",
    "data" -> "value (DataFrame) registry rooted at this context",
    "aliases" -> "alias registry (name -> value id)",
    "lineage" -> "lineage registry: which step produced which value",
    "workflows" -> "workflow (pipeline DAG) registry",
    "pipelines" -> "pipeline-definition registry (operation id -> persisted spec)",
    "registerPipeline" -> "register a pipeline definition as a first-class operation (callable as a step of other pipelines)",
    "registerPipelineFile" -> "register a pipeline operation from a JSON spec file",
    "registerPipelines" -> "register every given spec file; returns path -> operation id",
    "registerPersistedPipelines" -> "re-register every pipeline persisted under this root, bound to this context",
    "listPipelineIds" -> "operation ids registered from pipeline definitions (optionally filtered)",
    "getPipelineStructure" -> "steps, free inputs, output and stages of a pipeline operation",
    "pipelineInfo" -> "augmented record of one pipeline operation",
    "pipelinesInfo" -> "every pipeline operation's augmented record",
    "assembleFilterPipelineConfig" -> "chain filter-family operations (plus an optional endpoint step) into a pipeline definition",
    "assembleRenderPipeline" -> "pipeline definition rendering a data type to the first matching target format, with an optional filter chain",
    "comments" -> "job comment store",
    "metadata" -> "value-metadata registry (key=value items per value)",
    "environments" -> "runtime-environment snapshot registry",
    "listOperationIds" -> "registered operation ids (optionally filtered)",
    "operationInfo" -> "doc + type hints for one operation",
    "operationsInfo" -> "every registered operation's info record",
    "registerOperation" -> "register a custom DataFrame transform as an operation",
    "listModuleTypeNames" -> "module-type vocabulary (operation families)",
    "moduleTypeInfo" -> "doc + implementing class + members of one module type",
    "moduleTypesInfo" -> "every module type's info record",
    "listPluginNames" -> "registered extension-bundle names",
    "pluginInfo" -> "one extension bundle's info record",
    "pluginsInfo" -> "every registered extension bundle",
    "onRegistryEvent" -> "subscribe to registry mutations (synchronous, in order)",
    "runJob" -> "execute an operation on a value, record the job, return the result",
    "runBatch" -> "run a pipeline defined in a JSON spec file; save named outputs under aliases",
    "createWorkflow" -> "start a new interactive workflow session (incremental steps/inputs, snapshots)",
    "getWorkflow" -> "the cached workflow session, or one rebuilt from the persisted registry workflow",
    "listWorkflowIds" -> "live workflow session names plus persisted registry workflows",
    "listWorkflowAliasNames" -> "aliases registered over persisted workflows",
    "workflowAliasesInfo" -> "every workflow alias paired with its workflow's info record",
    "findOperationId" -> "registered operation id for a module type + config, if instantiated",
    "registerValueAlias" -> "alias an existing stored value (re-pointing needs allowOverwrite)",
    "isInternalDataType" -> "whether a data type is internal-only (always false; unknown types refused)",
    "setWorkflowAlias" -> "register an alias over a persisted workflow",
    "workflowInfo" -> "one workflow's record: aliases, steps, inputs, snapshot history",
    "workflowsInfo" -> "every workflow's info record",
    "createOperation" -> "instantiate a configurable module type with a config map (manifest)",
    "runManifest" -> "instantiate + run a manifest; config recorded as job metadata",
    "queueManifest" -> "async run_manifest: returns the job id immediately",
    "getJobRecord" -> "the persisted step record of one job",
    "listJobRecordIds" -> "ids of all recorded jobs on this root",
    "listJobRecords" -> "all recorded jobs' step records",
    "queueJob" -> "enqueue an operation asynchronously, returns the job id",
    "getJob" -> "queued-job status (running/success/failed)",
    "getJobResult" -> "the DataFrame result of a finished queued job",
    "setJobComment" -> "attach a comment to a job",
    "getJobComment" -> "the comment attached to a job, if any",
    "listJobComments" -> "all (job id, comment) pairs",
    "jobsInfo" -> "every job's record + status + comment in one catalog pass",
    "jobInfo" -> "one job's record + status + comment",
    "valueLineage" -> "upstream lineage steps of a value",
    "registerMetadata" -> "attach a key=value metadata item to a value",
    "findMetadataItems" -> "metadata items whose key matches a glob",
    "metadataForValue" -> "all metadata items attached to one value",
    "metadataItemWithHash" -> "look up a metadata item by content hash",
    "environmentInfo" -> "this session's runtime fingerprint (registered once)",
    "jobEnvironment" -> "the environment snapshot a job ran under",
    "listDataTypeNames" -> "supported data-type names",
    "storeValue" -> "persist a DataFrame as a value (optional alias), returns the id",
    "getValue" -> "load a value by id or alias",
    "renderValueAs" -> "render a stored value into a value of another type via the registered render-operation seam",
    "listValueIds" -> "ids of all stored values",
    "listAliasNames" -> "all alias names",
    "storeValues" -> "persist several DataFrames in one call",
    "getValues" -> "load several values by id or alias",
    "valueInfo" -> "schema/rows/size/lineage/metadata of one value (no data scan)",
    "valuesInfo" -> "info records for several (or all) values",
    "aliasesInfo" -> "(alias, value info) pairs for aliases matching a glob",
    "dataTypesInfo" -> "(name, Spark type) for every supported data type",
    "dataTypeInfo" -> "(name, Spark type) for one data type",
    "getValueStr" -> "bounded pretty-printed slice of a value",
    "queryValue" -> "::-path query into a value: data column path or a property",
    "contextInfo" -> "context summary: counts of values/aliases/jobs/workflows/ops",
    "findValues" -> "value ids matching an id glob (optionally having a column)",
    "findAliases" -> "(alias, value id) pairs matching alias/value globs",
    "importValue" -> "import a file (csv/json/orc/parquet) as a value",
    "exportValue" -> "export a value to a file in the given format",
    "importValues" -> "import several files as values",
    "exportValues" -> "export several values into a directory",
    "exportArchive" -> "export values + aliases + lineage as a portable archive",
    "importArchive" -> "import a portable archive into this context",
    "archiveInfo" -> "metadata-only inspection of an archive directory",
    "copyArchive" -> "copy values between archives, skipping ones the target already has",
    "setArchiveMetadata" -> "attach key=value metadata to an archive itself",
    "mounts" -> "mounted-archive registry (name -> directory, writable flag)",
    "registerArchive" -> "mount an archive directory as a named store; values resolve through it without import",
    "listRegisteredArchives" -> "the registered archive mounts (name, directory, writable)",
    "storeValueTo" -> "store a value into a writable registered archive")

  /** The API endpoint catalog — kiara's ApiEndpoints twin
    * (reference renderers/included_renderers/api/base_api.py:40 renders
    * the BaseAPI endpoint list via introspection). Names and signatures
    * come from reflection, so the catalog is complete by construction
    * (every public member appears; a new method can never be forgotten);
    * the one-line docs come from [[endpointDocs]]. */
  def endpoints: Seq[Endpoint] = {
    def short(t: java.lang.reflect.Type): String =
      t.getTypeName.replaceAll("""[a-z][A-Za-z0-9_$]*\.""", "").replace("$", ".")
    classOf[GraftApi].getDeclaredMethods.toSeq
      .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers))
      // statics are the companion object's forwarders (endpoints itself,
      // case-class factories) — instance endpoints only
      .filterNot(m => java.lang.reflect.Modifier.isStatic(m.getModifiers))
      .filterNot(m => m.getName.contains("$") || m.isSynthetic || m.isBridge)
      .map { m =>
        val ps = m.getGenericParameterTypes.map(short).mkString(", ")
        val sig =
          if (ps.isEmpty) s"${m.getName}: ${short(m.getGenericReturnType)}"
          else s"${m.getName}($ps): ${short(m.getGenericReturnType)}"
        Endpoint(m.getName, sig, endpointDocs.getOrElse(m.getName, ""))
      }
      // sort on the full rendered signature: same-name same-arity
      // overloads would otherwise keep getDeclaredMethods' unspecified
      // JVM order and make `render api` output nondeterministic
      .sortBy(e => (e.name, e.signature))
  }

  /** Endpoint names with a curated doc line — exposed for the CI
    * cross-check (every key must name a real public method). */
  def documentedEndpointNames: Set[String] = endpointDocs.keySet

  // the one pool behind every instance's queueJob: four daemon threads
  // for the whole JVM, however many contexts queue jobs
  private val jobEc: ExecutionContext = ExecutionContext.fromExecutor(
    Executors.newFixedThreadPool(4, r => {
      val t = new Thread(r, "graft-job"); t.setDaemon(true); t
    }))

  // the pipeline-operation invocation stack of the CURRENT thread —
  // the run-time recursion guard for nested pipeline operations
  private val activePipelines = new ThreadLocal[Vector[String]] {
    override def initialValue(): Vector[String] = Vector.empty
  }

  /** A pipeline spec file, read on the driver (no Spark job): `steps`
    * define the pipeline; `inputs` (step input -> value ref) and `save`
    * (step -> alias) are what [[GraftApi.runBatch]] binds. */
  final case class PipelineSpec(name: String, steps: Seq[OpStep],
                                inputs: Seq[(String, String)], save: Seq[(String, String)])

  /** Read and validate one spec file: a malformed file is an
    * `IllegalArgumentException` naming the file and the offending field,
    * never a ClassCastException (ADVICE r12). `pipeline_name` defaults to
    * the file basename without its extension, like the reference. */
  private[graft] def readPipelineSpec(specPath: String): PipelineSpec = {
    import scala.jdk.CollectionConverters._
    import com.fasterxml.jackson.databind.JsonNode
    def specErr(msg: String): Nothing =
      throw new IllegalArgumentException(s"bad pipeline spec $specPath: $msg")
    def kind(n: JsonNode): String = n.getNodeType.toString.toLowerCase
    def str(n: JsonNode, what: String): String =
      if (n.isTextual) n.textValue
      else if (n.isNull) specErr(s"'$what' must not be null")
      else specErr(s"'$what' must be a string, got ${kind(n)}")
    val spec =
      try graft.registries.Jsonl.read(java.nio.file.Files.readString(java.nio.file.Paths.get(specPath)))
      catch { case e: com.fasterxml.jackson.core.JsonProcessingException =>
        specErr(s"not valid JSON: ${e.getOriginalMessage}") }
    if (!spec.isObject) specErr(s"must be ONE json object, got ${kind(spec)}")
    // path(): an absent field reads as a MissingNode, never null
    def absent(n: JsonNode): Boolean = n.isMissingNode || n.isNull
    val steps = spec.path("steps") match {
      case a if absent(a) => specErr("no steps")
      case a if a.isArray && a.asScala.forall(_.isObject) => a.asScala.toSeq.map { st =>
        def field(f: String): String =
          if (absent(st.path(f))) specErr(s"every step needs name/op/input ('$f' missing)")
          else str(st.path(f), s"steps.$f")
        OpStep(field("name"), field("op"), field("input"))
      }
      case other => specErr(s"'steps' must be a list of step objects, got ${kind(other)}")
    }
    if (steps.isEmpty) specErr("empty steps list")
    def kvMap(field: String): Seq[(String, String)] = spec.path(field) match {
      case o if absent(o) => Seq.empty
      case o if o.isObject => o.properties.asScala.toSeq.map { e =>
        e.getKey -> str(e.getValue, s"$field.${e.getKey}") }
      case other => specErr(s"'$field' must be an object of string values, got ${kind(other)}")
    }
    val name = Some(spec.path("pipeline_name")).filterNot(absent)
      .map(str(_, "pipeline_name"))
      .getOrElse(new java.io.File(specPath).getName.replaceAll("\\.(json|yaml|yml)$", ""))
      .replaceAll("[^A-Za-z0-9._-]", "_")
    PipelineSpec(name, steps, kvMap("inputs"), kvMap("save"))
  }
}

/** Top-level facade mirroring kiara's python API
  * (reference interfaces/python_api/kiara_api.py): run_job (:105),
  * list_operation_ids (:679), list_data_type_names (:578),
  * store_value (:1018), get_value (:893), list_alias_names (:965),
  * import_values (:1130), export_values (:1174), get_job_record (:1410).
  *
  * A context roots all registries under one directory, exactly like a
  * kiara context; values are DataFrames, operations are registered
  * DataFrame transforms, jobs leave lineage records.
  */
class GraftApi(val spark: SparkSession, root: String) {
  import GraftApi._

  // one bus through every mutating registry — a single subscription
  // observes value/alias/job/workflow/metadata/comment mutations in
  // order (kiara registries/events/__init__.py:13 EventListener).
  // Listeners are synchronous; all events except ValueStoring fire
  // AFTER the mutation is durable, so a throwing listener there aborts
  // the caller's continuation (e.g. storeValue's alias set), not the
  // write itself — a QC hook that must veto a value write throws on the
  // pre-write ValueStoring event instead
  val registryEvents = new graft.registries.EventBus
  val data = new DataRegistry(root, registryEvents)
  val aliases = new AliasRegistry(root, registryEvents)
  val lineage = new LineageRegistry(root, registryEvents)
  val workflows = new WorkflowRegistry(root, lineage, registryEvents)
  val pipelines = new PipelineRegistry(root, registryEvents)
  // archive mounts (register_archive) — declared with the registries so
  // getValue's mount fall-through never sees an uninitialized field
  val mounts = new graft.registries.MountRegistry(root)
  val comments = new CommentStore(root, registryEvents)
  val metadata = new MetadataRegistry(root, registryEvents)
  val environments = new EnvironmentRegistry(root)
  // this session's runtime fingerprint, stored once on first use — every
  // job record references it (kiara registries/environment provenance)
  private lazy val sessionEnvCid: String =
    environments.register(EnvironmentRegistry.snapshot(spark))
  Builtins.ensureRegistered()
  // the caller's session plans small global sorts in one partition
  org.apache.spark.sql.graftext.SmallSort.install(spark)

  registerPersistedPipelines()

  // --- operations (kiara_api.py:679,709,770) ------------------------------
  def listOperationIds: Seq[String] = OpRegistry.list
  /** Filtered ids (kiara_api.py:679 list_operation_ids(filter=...)). */
  def listOperationIds(filters: String*): Seq[String] = OpRegistry.find(filters: _*)
  /** retrieve_operation_info (kiara_api.py:770): doc + type hints. */
  def operationInfo(name: String): OpRegistry.OpInfo = OpRegistry.info(name)
  /** retrieve_operations_info (kiara_api.py:770): every registered
    * operation's info record in one catalog pass. */
  def operationsInfo: Seq[OpRegistry.OpInfo] = OpRegistry.list.map(OpRegistry.info)
  def registerOperation(name: String, op: DataFrame => DataFrame,
                        doc: String = ""): Unit =
    OpRegistry.register(name, op, doc)

  // --- configured-module manifests (base_api.py:711 create_operation,
  //     :2904 queue_manifest, :2956 run_manifest) --------------------------
  /** create_operation: instantiate a configurable module type with a
    * per-call config map — the operation registers under a
    * content-derived id (same manifest → same id) and is then runnable
    * by `runJob`/`queueJob`/pipelines like any named operation. */
  def createOperation(moduleType: String,
                      config: Map[String, String] = Map.empty): String = {
    Builtins.ensureRegistered()
    OpRegistry.instantiate(OpRegistry.Manifest(moduleType, config))
  }

  /** run_manifest: instantiate + execute in one call; the manifest
    * (module type + config) lands in the job's metadata, so lineage
    * traversal sees exactly what configuration ran. */
  def runManifest(moduleType: String, config: Map[String, String],
                  inputValue: String): (String, DataFrame) = {
    val m = OpRegistry.Manifest(moduleType, config)
    val opId = createOperation(moduleType, config)
    val (jobId, out) = runJob(opId, inputValue)
    metadata.register("manifest", m.render, "job", jobId)
    (jobId, out)
  }

  /** queue_manifest: the async form — returns the job id immediately;
    * the manifest is attached as job metadata up front (kiara's
    * register_job_metadata_items on queue, base_api.py:2948). */
  def queueManifest(moduleType: String, config: Map[String, String],
                    inputValue: String): String = {
    val m = OpRegistry.Manifest(moduleType, config)
    val opId = createOperation(moduleType, config)
    val jobId = queueJob(opId, inputValue)
    metadata.register("manifest", m.render, "job", jobId)
    jobId
  }

  /** find_operation_id (base_api.py:2612): the registered operation id
    * for a module type + config, if one is registered — a bare
    * already-registered operation id resolves to itself (kiara's
    * module_or_operation manifest path); an uninstantiated manifest
    * returns None (this endpoint never instantiates). */
  def findOperationId(moduleType: String,
                      config: Map[String, String] = Map.empty): Option[String] = {
    Builtins.ensureRegistered()
    if (config.isEmpty && OpRegistry.contains(moduleType)) Some(moduleType)
    else Some(OpRegistry.Manifest(moduleType, config).operationId)
      .filter(OpRegistry.contains)
  }

  // --- module types (kiara_api.py:632,638,662) -----------------------------
  /** list_module_type_names: the module-type vocabulary (operation
    * families + their implementing classes), distinct from operation
    * instances. */
  def listModuleTypeNames: Seq[String] = OpRegistry.moduleTypeNames
  /** retrieve_module_type_info: doc + type hints + implementing class +
    * member operations for one module type. */
  def moduleTypeInfo(name: String): OpRegistry.ModuleTypeInfo =
    OpRegistry.moduleTypeInfo(name)
  /** retrieve_module_types_info: every module type's info record. */
  def moduleTypesInfo: Seq[OpRegistry.ModuleTypeInfo] = OpRegistry.moduleTypesInfo

  // --- plugins (kiara_api.py:483,498,516) ----------------------------------
  /** list_available_plugin_names: registered extension bundles. */
  def listPluginNames: Seq[String] = graft.plans.PluginRegistry.names
  /** retrieve_plugin_info: one bundle's info record. */
  def pluginInfo(name: String): graft.plans.PluginRegistry.PluginInfo =
    graft.plans.PluginRegistry.info(name)
  /** retrieve_plugin_infos: every registered bundle. */
  def pluginsInfo: Seq[graft.plans.PluginRegistry.PluginInfo] =
    graft.plans.PluginRegistry.infos

  /** Subscribe to registry mutations (kiara's event listener
    * registration): the listener sees every ValueStoring / ValueStored /
    * AliasStored / JobRecordStored / MetadataStored / WorkflowStored /
    * CommentStored on this context, synchronously, in mutation order. */
  def onRegistryEvent(l: graft.registries.RegistryEvents.Event => Unit): Unit =
    registryEvents.subscribe(l)

  /** run_job (kiara_api.py:105): execute a registered operation on a
    * value (by alias or value id), record the job, return the result. */
  def runJob(operation: String, inputValue: String): (String, DataFrame) = {
    val op = OpRegistry.get(operation)
    val in = getValue(inputValue)
    val out = op(in)
    val jobId = s"job-${lineage.nextRun()}"
    recordJob(jobId, operation, inputValue, out)
    (jobId, out)
  }

  private def recordJob(jobId: String, operation: String, inputValue: String,
                        out: DataFrame): Unit =
    lineage.record(jobId, Pipeline.StepRecord(operation, Seq(inputValue),
      out.schema.simpleString), Some(sessionEnvCid))

  private def stepRecord(n: LineageRegistry.StepNode) =
    Pipeline.StepRecord(n.step, n.inputs, n.schema)

  /** get_job_record (kiara_api.py:1410): job-prefixed runs in the
    * lineage log ARE the job records (kiara's store-backed job registry),
    * so every instance on the root, in this JVM or a later one, sees
    * every job. */
  def getJobRecord(jobId: String): Option[Pipeline.StepRecord] =
    lineage.lastOfRun(jobId).map(stepRecord)
  def listJobRecordIds: Seq[String] = lineage.jobs.map(_._1)

  /** All job records, sorted by id. */
  def listJobRecords: Seq[(String, Pipeline.StepRecord)] =
    lineage.jobs.map { case (id, n) => id -> stepRecord(n) }

  // --- async job queue (kiara_api.py:149 queue_job, :1342 get_job,
  //     :1348 get_job_result) ----------------------------------------------
  // --- interactive workflow sessions (python_api/workflow.py:144) ---
  private val workflowSessions =
    scala.collection.concurrent.TrieMap[String, WorkflowSession]()

  /** create_workflow (base_api.py workflow surface / workflow.py:202
    * Workflow.create): a NEW interactive session — steps and inputs
    * accumulate incrementally, snapshots capture states. The session is
    * cached on this context (the reference's _workflow_cache). */
  def createWorkflow(name: String): WorkflowSession = {
    // a persisted registry workflow of the same name must not be
    // silently shadowed (a later save() would overwrite its DAG) —
    // the reference's create path likewise refuses an existing alias
    require(!workflows.list.contains(name),
      s"a persisted workflow already exists: $name (use getWorkflow)")
    // ...and neither may a workflow ALIAS be shadowed: resolve() routes
    // the alias name to the aliased workflow, so a live session created
    // under it would be unreachable and unsavable (ADVICE r13)
    require(workflows.resolveAlias(name).isEmpty,
      s"'$name' is already a workflow alias (over '${workflows.resolveAlias(name).get}')")
    val s = new WorkflowSession(this, name, root)
    // putIfAbsent: two concurrent creators can't both win the name
    require(workflowSessions.putIfAbsent(name, s).isEmpty,
      s"workflow session already exists: $name (use getWorkflow)")
    s
  }

  /** get_workflow (base_api.py:3373): the cached session, or a session
    * REBUILT from the persisted registry workflow of that name (the
    * reference loads by id or alias from its workflow registry —
    * aliases resolve here too, and both names share one cached session). */
  def getWorkflow(ref: String): WorkflowSession = {
    val name = workflows.resolve(ref)
    workflowSessions.getOrElseUpdate(name, {
      val steps = workflows.describe(name) // throws on unknown, like kiara
      val s = new WorkflowSession(this, name, root)
      steps.foreach(st => s.addStep(st.name, st.op, st.input))
      s
    })
  }

  /** list_workflow_ids (base_api.py:3359): live session names plus
    * persisted registry workflows, sorted. */
  def listWorkflowIds: Seq[String] =
    (workflowSessions.keys.toSeq ++ workflows.list).distinct.sorted

  /** list_workflow_alias_names (base_api.py:3366): every alias
    * registered over a persisted workflow, sorted. */
  def listWorkflowAliasNames: Seq[String] = workflows.aliasNames

  /** Register an alias over a persisted workflow (the reference's
    * register_workflow_alias seam inside its workflow registry). */
  def setWorkflowAlias(alias: String, workflow: String): Unit =
    workflows.setAlias(alias, workflows.resolve(workflow))

  /** retrieve_workflow_info (base_api.py:3424 / WorkflowInfo
    * create_from_workflow): the rendered record of one workflow —
    * resolved name, aliases over it, step triples, free input fields,
    * persistence, and the snapshot history (count + last saved id). */
  def workflowInfo(ref: String): WorkflowInfo = {
    val name = workflows.resolve(ref)
    // live session first, else the registry's step triples — NO session
    // is created here (a closure workflow's steps can't rebuild one, and
    // an info lookup must not mutate the session cache)
    val steps = workflowSessions.get(name).map(_.describe)
      .getOrElse(workflows.describe(name))
    val produced = steps.map(_.name).toSet
    val inputFields = steps.flatMap(s => OpStep.inputs(s.input)).filter(_.nonEmpty)
      .distinct.filterNot(produced).sorted
    val saved = WorkflowSession.savedStatesFor(root, name)
    WorkflowInfo(name, workflows.aliasesFor(name), steps, inputFields,
      workflows.isPersisted(name), saved.distinct.size, saved.lastOption)
  }

  /** retrieve_workflows_info (base_api.py:3498): every workflow's info
    * record — live sessions and persisted registry workflows. */
  def workflowsInfo: Seq[WorkflowInfo] = listWorkflowIds.map(workflowInfo)

  /** retrieve_workflow_aliases_info (base_api.py:3512) /
    * list_workflow_aliases (:3464): every workflow alias paired with the
    * info record of the workflow it resolves to. */
  def workflowAliasesInfo: Seq[(String, WorkflowInfo)] =
    workflows.aliasNames.map(a => a -> workflowInfo(a))

  // --- pipelines as first-class operations (base_api.py:1277
  //     register_pipeline, :1298 register_pipelines; catalog :1085
  //     list_pipeline_ids, :1152 get_pipeline_structure,
  //     :1184/:1220 retrieve_pipeline_info(s)) ----------------------------

  private def pipelineFreeInputs(steps: Seq[WorkflowRegistry.OpStep]): Seq[String] = {
    val produced = steps.map(_.name).toSet
    steps.flatMap(s => OpStep.inputs(s.input)).filter(_.nonEmpty)
      .filterNot(produced).distinct
  }

  /** Topological processing stages (kiara PipelineStructure
    * processing_stages): a step's stage is 1 + the max stage of the
    * steps it consumes; free inputs are stage 0. Throws on cycles. */
  private def pipelineStages(steps: Seq[WorkflowRegistry.OpStep]): Seq[Seq[String]] = {
    val produced = steps.map(_.name).toSet
    var lv = Map.empty[String, Int]
    var remaining = steps
    while (remaining.nonEmpty) {
      val (ready, blocked) = remaining.partition(st =>
        OpStep.inputs(st.input).filter(produced).forall(lv.contains))
      require(ready.nonEmpty, "pipeline has a cycle among steps: " +
        blocked.map(_.name).mkString(", "))
      ready.foreach { st =>
        val deps = OpStep.inputs(st.input).filter(produced).map(lv)
        lv += st.name -> (if (deps.isEmpty) 1 else deps.max + 1)
      }
      remaining = blocked
    }
    lv.groupBy(_._2).toSeq.sortBy(_._1).map(_._2.keys.toSeq.sorted)
  }

  /** Build + register the executable operation for a pipeline definition.
    * Step operations resolve BY NAME at run time (the stored-pipeline
    * contract); the closure records the inner steps as their own lineage
    * run, so a pipeline invoked as a STEP of another pipeline leaves the
    * nesting visible in the provenance log. */
  private def registerPipelineOp(opId: String,
                                 steps: Seq[WorkflowRegistry.OpStep]): Unit = {
    val free = pipelineFreeInputs(steps)
    require(free.size == 1 || free.size == 2,
      s"a pipeline operation needs 1 or 2 free inputs, '$opId' has " +
        s"${free.size}: ${free.mkString(", ")}")
    pipelineStages(steps) // acyclicity surfaces at registration, not first run
    val out = steps.last.name
    def run(inputs: Map[String, DataFrame]): DataFrame = {
      Builtins.ensureRegistered()
      // indirect cycles (A steps into B, B re-registered to step into A)
      // cannot all be caught at registration — fail with the cycle named
      // instead of a StackOverflowError deep in plan construction
      val active = GraftApi.activePipelines.get()
      require(!active.contains(opId),
        s"recursive pipeline invocation: ${(active :+ opId).mkString(" -> ")}")
      GraftApi.activePipelines.set(active :+ opId)
      try {
        val ps = steps.map(st => OpRegistry.step(st.name, st.op, st.input))
        val res = Pipeline.run(ps, inputs)
        lineage.recordRun(s"$opId-run-${lineage.nextRun()}", res.lineage)
        res.values(out)
      } finally GraftApi.activePipelines.set(active)
    }
    OpRegistry.registerModuleType("pipeline",
      "pipeline definitions registered as first-class operations",
      "graft.plans.Pipeline")
    val doc = s"registered pipeline (${steps.size} steps: " +
      s"${steps.map(_.name).mkString("->")}; output '$out')"
    OpRegistry.unregister(opId) // re-registration may change arity
    free match {
      case Seq(a) =>
        OpRegistry.register(opId, df => run(Map(a -> df)), doc, module = "pipeline")
      case Seq(a, b) =>
        OpRegistry.register2(opId, (l, r) => run(Map(a -> l, b -> r)), doc,
          module = "pipeline")
      case _ => () // unreachable (require above)
    }
  }

  /** Every pipeline persisted under this root re-registers into
    * OpRegistry under its stored id, bound to this context, from one read
    * (run by the constructor and by every [[GraftContexts.at]] lookup). */
  def registerPersistedPipelines(): Unit =
    pipelines.all.foreach { case (id, steps) => registerPipelineOp(id, steps) }

  /** register_pipeline (base_api.py:1277): register a pipeline DEFINITION
    * as a first-class operation — runnable via runJob/queueJob and
    * callable as a STEP of another pipeline (nested pipelines, kiara's
    * main composition mechanism). The operation id defaults to
    * `pipeline.<name>`; the definition persists under the context root
    * and a fresh JVM re-registers it automatically. The operation's
    * input is the pipeline's free input field — two free inputs make a
    * binary operation, bound in first-appearance order — and its output
    * is the LAST declared step's value. */
  def registerPipeline(name: String, steps: Seq[WorkflowRegistry.OpStep],
                       operationId: Option[String] = None): String = {
    Builtins.ensureRegistered()
    val opId = operationId.getOrElse(
      s"pipeline.${graft.registries.Names.validate("pipeline name", name)}")
    // a custom id may RE-register a pipeline (latest wins) but must never
    // silently replace a non-pipeline operation — a pipeline registered
    // as "text.clean" would shadow the builtin for every caller
    require(!OpRegistry.contains(opId) || pipelines.contains(opId),
      s"operation id already taken by a non-pipeline operation: $opId")
    // eager validation, kiara-style: every step op must resolve NOW (a
    // nested pipeline is registered before the pipeline that uses it).
    // Direct self-reference is refused here; indirect cycles created by
    // later re-registration are caught at run time (the activePipelines
    // recursion guard).
    require(!steps.exists(_.op == opId),
      s"pipeline '$opId' cannot invoke itself as a step")
    steps.map(_.op).filterNot(OpRegistry.contains).headOption.foreach(op =>
      throw new NoSuchElementException(s"unknown operation in pipeline: $op"))
    val stash = if (pipelines.contains(opId)) Some(pipelines.describe(opId)) else None
    pipelines.put(opId, steps) // charset + shape validation, atomic persist
    try registerPipelineOp(opId, steps)
    catch { case e: Throwable =>
      // keep persisted state consistent with the registered-op state:
      // a structurally-invalid definition must not survive on disk
      stash match {
        case Some(old) => pipelines.put(opId, old)
        case None      => pipelines.remove(opId)
      }
      throw e
    }
    opId
  }

  /** register_pipeline from a JSON spec FILE — the `runBatch` spec shape;
    * only `pipeline_name` and `steps` are used (inputs/save are a batch-
    * run concern, not part of the definition). The id auto-derives from
    * the pipeline name (file basename if unnamed), like the reference. */
  def registerPipelineFile(specPath: String,
                           operationId: Option[String] = None): String = {
    val spec = readPipelineSpec(specPath)
    registerPipeline(spec.name, spec.steps, operationId)
  }

  /** register_pipelines (base_api.py:1298): register every spec file;
    * returns path -> operation id in input order. */
  def registerPipelines(specPaths: Seq[String]): Seq[(String, String)] =
    specPaths.map(p => p -> registerPipelineFile(p))

  /** list_pipeline_ids (base_api.py:1085): pipeline operations of THIS
    * context (kiara's operation registry is per-context; graft's
    * OpRegistry is JVM-global, so the catalog intersects it with the
    * root's persisted definitions — another context's pipelines stay
    * runnable by id but don't pollute this context's listing),
    * optionally filtered like operation ids. */
  def listPipelineIds(filters: String*): Seq[String] = {
    val mine = pipelines.list.toSet
    OpRegistry.find(filters: _*).filter(mine)
  }

  /** get_pipeline_structure (base_api.py:1152): steps, free inputs,
    * output and stages of one pipeline operation. A non-pipeline
    * operation id is refused with kiara's "not a pipeline" shape. */
  def getPipelineStructure(opId: String): PipelineStructure = {
    if (!pipelines.contains(opId) && OpRegistry.contains(opId))
      throw new IllegalArgumentException(
        s"operation '$opId' is not a pipeline, but a '${OpRegistry.info(opId).module}'")
    val steps = pipelines.describe(opId)
    PipelineStructure(opId, steps, pipelineFreeInputs(steps), steps.last.name,
      pipelineStages(steps))
  }

  /** retrieve_pipeline_info (base_api.py:1184): augmented record. */
  def pipelineInfo(opId: String): PipelineOpInfo = {
    val s = getPipelineStructure(opId)
    PipelineOpInfo(s, OpRegistry.info(opId).doc, s.inputFields.size,
      pipelines.contains(opId))
  }

  /** retrieve_pipelines_info (base_api.py:1220): every pipeline
    * operation's augmented record. */
  def pipelinesInfo: Seq[PipelineOpInfo] = listPipelineIds().map(pipelineInfo)

  /** assemble_filter_pipeline_config (base_api.py:2630 — preliminary in
    * the reference, same scope here): chain N filter-family operations
    * over one data type into a pipeline definition, optionally ending in
    * an endpoint step. Filter refs resolve as given or as
    * `<dataType>.<name>` (the filter-family naming convention — manifest
    * ids from [[createOperation]] work directly); every filter must be a
    * UNARY operation. Step ids auto-derive from the op id (kiara's
    * "calculated automatically"), deduplicated on repeats. A unary
    * endpoint consumes the filtered value; a binary endpoint binds the
    * filtered value FIRST, with `endpointInputField` naming the second
    * (free) input. Returns step triples ready for [[registerPipeline]]
    * or [[graft.registries.WorkflowRegistry.registerOps]]. */
  def assembleFilterPipelineConfig(dataType: String, filters: Seq[String],
      endpoint: Option[String] = None,
      endpointInputField: Option[String] = None,
      endpointStepId: Option[String] = None): Seq[WorkflowRegistry.OpStep] = {
    Builtins.ensureRegistered()
    require(filters.nonEmpty, "assembleFilterPipelineConfig needs at least one filter")
    def resolveOp(f: String): String =
      if (OpRegistry.contains(f)) f
      else if (OpRegistry.contains(s"$dataType.$f")) s"$dataType.$f"
      else throw new NoSuchElementException(
        s"unknown filter operation: $f (tried '$f' and '$dataType.$f')")
    val used = scala.collection.mutable.Map.empty[String, Int]
    def stepId(op: String): String = {
      val base = op.replace('.', '_')
      val n = used.getOrElse(base, 0) + 1
      used(base) = n
      if (n == 1) base else s"${base}_$n"
    }
    var prev = dataType // the pipeline's free input field IS the data type
    val fSteps = filters.map { f =>
      val op = resolveOp(f)
      require(OpRegistry.arity(op) == 1, s"filter operations must be unary: $op")
      val st = WorkflowRegistry.OpStep(stepId(op), op, prev)
      prev = st.name
      st
    }
    val epStep = endpoint.map { e =>
      val op = resolveOp(e)
      val id = endpointStepId.getOrElse(stepId(op))
      val input = OpRegistry.arity(op) match {
        case 1 => prev
        case _ => s"$prev+${endpointInputField.getOrElse("endpoint_input")}"
      }
      WorkflowRegistry.OpStep(id, op, input)
    }
    fSteps ++ epStep
  }

  /** assemble_render_pipeline (base_api.py:2814 — preliminary there,
    * same scope here): resolve the render operation for `dataType` and
    * the FIRST matching entry of `targetFormats` (the reference's
    * try-each-format loop), optionally prepending a filter chain via
    * [[assembleFilterPipelineConfig]] with the render step as the
    * endpoint. With no filters the definition is the single render
    * step. A missing renderer is refused with the formats that ARE
    * registered for the type, like the reference. `usePrettyPrint`
    * (base_api.py:2819,2841) resolves through the pretty_print
    * OPERATION TYPE instead of render_value — the two are distinct
    * registries in the reference and here
    * ([[graft.operators.Render.PrettyPrintOps]]); the builtin
    * `pretty_print.table.as.string` op renders the bounded slice as a
    * (line_no, line) value, so the assembled chain stays value→value. */
  def assembleRenderPipeline(dataType: String,
      targetFormats: Seq[String] = Seq("string"),
      filters: Seq[String] = Seq.empty,
      usePrettyPrint: Boolean = false): Seq[WorkflowRegistry.OpStep] = {
    Builtins.ensureRegistered()
    import graft.operators.Render.{PrettyPrintOps, ValueRenderOps}
    def resolve(kind: String, registered: Seq[String],
                find: String => Option[String]): String =
      targetFormats.view.flatMap(find).headOption
        .getOrElse(throw new NoSuchElementException(
          s"no $kind operation for source type '$dataType' to target(s) " +
            targetFormats.mkString(", ") +
            (if (registered.isEmpty) s" — no $kind operations registered for '$dataType'"
             else s" (registered targets for '$dataType': ${registered.sorted.mkString(", ")})")))
    val opName =
      if (usePrettyPrint) resolve("pretty_print",
        PrettyPrintOps.list.collect { case (s, t, _) if s == dataType => t },
        PrettyPrintOps.find(dataType, _))
      else resolve("render",
        ValueRenderOps.list.collect { case (s, t, _) if s == dataType => t },
        ValueRenderOps.find(dataType, _))
    if (filters.isEmpty) Seq(WorkflowRegistry.OpStep("render_value", opName, dataType))
    else assembleFilterPipelineConfig(dataType, filters,
      endpoint = Some(opName), endpointStepId = Some("render_value"))
  }

  /** Batch pipeline-from-file (kiara interfaces/python_api/batch.py:31
    * BatchOperation.from_file + utils.py create_save_config): run a
    * pipeline DEFINED IN A JSON FILE in one shot — steps resolve
    * against OpRegistry by name, inputs load from the data registry
    * (alias or value id), and steps named in `save` store under their
    * aliases afterwards. `pipeline_name` defaults from the file
    * basename with the extension stripped, exactly like the reference.
    * The spec is one JSON object, read on the driver by
    * [[GraftApi.readPipelineSpec]] (no Spark job):
    * {{{
    * {"pipeline_name": "curate",
    *  "steps": [{"name": "clean", "op": "tables.dropNulls", "input": "docs"}],
    *  "inputs": {"docs": "<alias-or-value-id>"},
    *  "save":   {"clean": "curated"}}
    * }}}
    * Returns the run id and the (step, alias, value id) saves; every
    * step lands in the lineage log under the run id (the workflow-run
    * contract), so provenance traversal works for batch outputs too. */
  def runBatch(specPath: String): (String, Seq[(String, String, String)]) = {
    graft.plans.Builtins.ensureRegistered()
    val spec = readPipelineSpec(specPath)
    spec.steps.foreach(st =>
      require(OpRegistry.contains(st.op), s"unknown operation in batch spec: ${st.op}"))
    val inputs = spec.inputs.map { case (n, ref) => n -> getValue(ref) }.toMap
    val steps = spec.steps.map(st => OpRegistry.step(st.name, st.op, st.input))
    val runId = s"batch-${spec.name}-${lineage.nextRun()}"
    val res = Pipeline.run(steps, inputs)
    lineage.recordRun(runId, res.lineage)
    val saved = spec.save.sortBy(_._1).map { case (step, alias) =>
      require(res.values.contains(step),
        s"save target '$step' is not a step or input of this batch")
      val vid = storeValue(s"$runId-$step", res.values(step), Some(alias))
      (step, alias, vid)
    }
    (runId, saved)
  }

  // jobs queued in this session — the one job map: recorded jobs are
  // answered from the lineage log, and only a queued job has a state
  // other than success (a failed one leaves no record)
  private final class Queued(jobId: String, val operation: String, val input: String) {
    @volatile var status = JobStatus(jobId, "queued", None)
    val result = Promise[DataFrame]()
  }
  private val queued = scala.collection.concurrent.TrieMap[String, Queued]()

  /** queue_job: submit a registered operation asynchronously; returns the
    * job id immediately. Spark plan construction and actions are
    * session-thread-safe, so queued jobs genuinely overlap. */
  def queueJob(operation: String, inputValue: String): String = {
    val jobId = s"job-${lineage.nextRun()}"
    val q = new Queued(jobId, operation, inputValue)
    queued.put(jobId, q)
    q.result.completeWith(Future {
      q.status = JobStatus(jobId, "running", None)
      // state transitions happen INSIDE the body so they are visible
      // before the future completes — a post-completion callback would
      // race with a caller that saw getJobResult return/throw
      try {
        val out = OpRegistry.get(operation)(getValue(inputValue))
        recordJob(jobId, operation, inputValue, out)
        q.status = JobStatus(jobId, "success", None)
        out
      } catch {
        case e: Throwable =>
          q.status = JobStatus(jobId, "failed", Some(e.toString))
          throw e
      }
    }(GraftApi.jobEc))
    jobId
  }

  /** get_job: current state of a queued (or already-recorded) job. */
  def getJob(jobId: String): JobStatus =
    queued.get(jobId).map(_.status)
      .orElse(getJobRecord(jobId).map(_ => JobStatus(jobId, "success", None)))
      .getOrElse(throw new NoSuchElementException(s"no such job: $jobId"))

  private def jobExists(jobId: String): Boolean =
    queued.contains(jobId) || lineage.lastOfRun(jobId).isDefined

  /** get_job_result: block until the queued job finishes; rethrows the
    * job's failure if it failed. runJob-issued ids and jobs persisted by
    * a previous JVM have no queued future — their StepRecord replays the
    * recorded operation on its recorded input (kiara's store-backed
    * job-result lookup: results are re-derivable from lineage). */
  def getJobResult(jobId: String): DataFrame =
    queued.get(jobId) match {
      case Some(q) => Await.result(q.result.future, Duration.Inf)
      case None =>
        getJobRecord(jobId) match {
          case Some(rec) => OpRegistry.get(rec.step)(getValue(rec.inputs.head))
          case None => throw new NoSuchElementException(
            s"job $jobId was neither queued in this session nor recorded on this root")
        }
    }

  // --- job comments (kiara_api.py:186,209) --------------------------------
  def setJobComment(jobId: String, comment: String): Unit = {
    require(jobExists(jobId), s"no such job: $jobId")
    comments.set(jobId, comment)
  }
  def getJobComment(jobId: String): Option[String] = comments.get(jobId)
  def listJobComments: Seq[(String, String)] = comments.list

  // --- rendered job info (kiara_api.py:379,1419,1428) ----------------------
  /** retrieve_jobs_info: StepRecord + runtime state + comment, joined
    * over one lineage parse and one comment-store read. Recorded jobs
    * render as `success` — only a success leaves a lineage record — and
    * jobs queued here that are still queued/running or that FAILED (no
    * lineage record) render from the queue, so the list never hides a
    * failure. */
  def jobsInfo: Seq[JobInfo] = {
    val cs = comments.list.toMap
    val recorded = lineage.jobs.map { case (id, n) =>
      id -> JobInfo(id, n.step, n.inputs, n.schema, "success", cs.get(id))
    }.toMap
    val live = queued.collect { case (id, q) if !recorded.contains(id) =>
      id -> JobInfo(id, q.operation, Seq(q.input), "", q.status.state, cs.get(id))
    }
    (recorded ++ live).values.toSeq.sortBy(_.jobId)
  }

  /** retrieve_job_info: one job's rendered record. */
  def jobInfo(jobId: String): JobInfo =
    jobsInfo.find(_.jobId == jobId)
      .getOrElse(throw new NoSuchElementException(s"no such job: $jobId"))

  /** Upstream provenance of a value (kiara_api.py:243
    * retrieve_augmented_value_lineage): the step that produced it, the
    * steps that produced its inputs, recursively to the raw leaves. */
  def valueLineage(value: String): Seq[LineageRegistry.StepNode] = lineage.upstream(value)

  // --- value metadata (kiara registries/metadata/__init__.py:94,203,233,309)
  /** register_metadata_item: attach key=value to a stored value (by id or
    * alias) or a job id; returns the item's content hash. */
  def registerMetadata(ref: String, key: String, value: String,
                       refType: String = "value"): String = {
    val id = if (refType == "value") {
      val resolved = aliases.resolve(ref).getOrElse(ref)
      require(data.exists(resolved), s"no such value: $ref")
      resolved
    } else {
      require(jobExists(ref), s"no such job: $ref")
      ref
    }
    metadata.register(key, value, refType, id)
  }
  /** find_metadata_items: key glob over every attached item. */
  def findMetadataItems(keyGlob: String = "*"): Seq[MetadataRegistry.MetadataItem] =
    metadata.find(keyGlob)
  /** Items attached to one value (alias-resolving). */
  def metadataForValue(ref: String): Seq[MetadataRegistry.MetadataItem] =
    metadata.forRef("value", aliases.resolve(ref).getOrElse(ref))
  /** retrieve_metadata_item_with_hash. */
  def metadataItemWithHash(hash: String): Option[MetadataRegistry.MetadataItem] =
    metadata.byHash(hash)

  // --- environment provenance (kiara registries/environment/__init__.py) --
  /** This session's runtime snapshot (registered in the context root). */
  def environmentInfo: EnvironmentRegistry.EnvSnapshot = {
    val cid = sessionEnvCid
    environments.get(cid).getOrElse(EnvironmentRegistry.snapshot(spark))
  }
  /** The environment that RAN a job — resolved from the persisted job
    * record, so it survives a JVM restart (kiara's
    * retrieve_environment_item, registries/metadata/__init__.py:210). */
  def jobEnvironment(jobId: String): Option[EnvironmentRegistry.EnvSnapshot] =
    lineage.lastOfRun(jobId).flatMap(_.env).flatMap(environments.get)

  // --- data types (kiara_api.py:578) -------------------------------------
  def listDataTypeNames: Seq[String] = TypeMap.toSpark.keys.toSeq.sorted

  /** is_internal_data_type (base_api.py:484): graft exposes every
    * registered data type to users (there is no internal/doc-model type
    * tier — pydantic scaffolding has no Spark twin), so this is `false`
    * for every KNOWN type and a refusal for unknown ones. */
  def isInternalDataType(name: String): Boolean = {
    require(TypeMap.toSpark.contains(name), s"unknown data type: $name")
    false
  }

  // --- values + aliases (kiara_api.py:893,1018,965,831) -------------------
  def storeValue(id: String, df: DataFrame, alias: Option[String] = None): String = {
    data.store(id, df)
    alias.foreach(a => aliases.set(a, id))
    id
  }
  /** Load by id or alias; the LOCAL registry wins, then refs resolve
    * through the registered archive mounts (register_archive reads —
    * no import, the mounted parquet is read in place, so a 100 TB
    * mounted value is immediately a distributed table). */
  def getValue(ref: String): DataFrame = {
    val local = aliases.resolve(ref).getOrElse(ref)
    if (data.exists(local)) data.load(spark, local)
    else mountedValue(ref)
      // a LOCAL alias may point at an id that lives only in a mounted
      // archive (stored there by another context): probe the resolved id
      // too before the final local-load fall-through (ADVICE r14)
      .orElse(if (local != ref) mountedValue(local) else None)
      .getOrElse(data.load(spark, local))
  }

  /** Resolve a ref through the archive mounts, in mount-name order:
    * value id first, then the archive's own aliases. Only the manifest
    * PROBE is guarded (one unreadable mount must not block unrelated
    * refs resolving through other mounts); once a ref resolves in a
    * manifest, a failure reading the VALUE propagates — a mounted value
    * that cannot be read is a diagnosable error, never a silent
    * fall-through to "no such value". */
  private def mountedValue(ref: String): Option[DataFrame] =
    mountedResolve(ref).map { case (dir, i) =>
      ParquetMeta.read(spark, s"$dir/values/$i") }

  /** Manifest-only probe (no parquet read): the (mount dir, value id)
    * a ref resolves to, if any mount's manifest carries it. */
  private def mountedResolve(ref: String): Option[(String, String)] =
    mounts.list.view.flatMap { case (_, dir, _) =>
      val hit =
        try {
          val (ids, als) = Archive.manifest(dir)
          if (ids.contains(ref)) Some(ref)
          else als.toMap.get(ref).filter(ids.contains)
        } catch { case _: Exception => None }
      hit.map(dir -> _)
    }.headOption

  /** Render a stored value INTO a value of another type through the
    * registered render-operation seam (kiara value.py:67 ValueRenderer:
    * the (source, target) pair resolves an operation from the graph;
    * graft values are tables, so the source type is "table"). Returns
    * the rendered VALUE; optionally stores it under `saveAs`. */
  def renderValueAs(ref: String, targetType: String,
                    saveAs: Option[String] = None): DataFrame = {
    graft.plans.Builtins.ensureRegistered()
    val out = graft.operators.Render.ValueRenderOps
      .render("table", targetType, getValue(ref))
    saveAs.foreach(a => storeValue(a, out, Some(a)))
    out
  }
  def listValueIds: Seq[String] = data.list
  def listAliasNames: Seq[String] = aliases.list.map(_._1)

  /** register_value_alias (base_api.py:1678): alias an EXISTING stored
    * value; re-pointing a live alias requires `allowOverwrite` (the
    * reference's allow_overwrite gate — the registry itself is
    * latest-wins, this endpoint adds kiara's protection). */
  def registerValueAlias(value: String, alias: String,
                         allowOverwrite: Boolean = false): Unit = {
    // a value readable THROUGH a mount is aliasable like a local one
    // (getValue resolves the alias back through the mounts — ADVICE r14)
    require(data.exists(value) || mountedResolve(value).isDefined,
      s"no such value: $value")
    val existing = aliases.resolve(alias)
    require(allowOverwrite || existing.isEmpty || existing.contains(value),
      s"alias '$alias' already points at '${existing.get}' (pass allowOverwrite to re-point)")
    aliases.set(alias, value)
  }

  /** query_value (base_api.py:1449 — provisional in the reference, so
    * the shape is kept deliberately small): a `::`-delimited query path
    * `<value_ref>[::<category>[::<attr>...]]` into a stored value.
    * Categories: `data` (attrs = a nested column path — the table
    * projected to that column, still a lazy distributed frame) and
    * `properties` (the footer-only info record as a key→value map;
    * one attr selects a single property). No category → the value
    * itself. */
  def queryValue(path: String): Any = {
    val tokens = path.split("::").toList
    require(tokens.nonEmpty && tokens.head.nonEmpty, s"empty query path: $path")
    val df = getValue(tokens.head)
    def props: Map[String, String] = {
      val i = valueInfo(tokens.head)
      Map("id" -> i.id, "schema" -> i.schema, "rows" -> i.rows.toString,
        "size_bytes" -> i.sizeBytes.toString,
        "produced_by" -> i.producedBy.getOrElse(""),
        "aliases" -> i.aliases.mkString(","),
        "metadata" -> i.metadata.mkString(","))
    }
    tokens.tail match {
      case Nil => df
      case "data" :: Nil => df
      case "data" :: attrs =>
        // a nested attribute walk IS a struct-field path in a table value
        df.select(org.apache.spark.sql.functions.col(attrs.mkString(".")))
      case "properties" :: Nil => props
      case "properties" :: attr :: Nil =>
        props.getOrElse(attr, throw new NoSuchElementException(
          s"no property '$attr' (have: ${props.keys.toSeq.sorted.mkString(", ")})"))
      case other => throw new IllegalArgumentException(
        s"unknown query category '${other.head}' (use data | properties)")
    }
  }

  // --- batch value ops (kiara_api.py:1055 store_values, :909 get_values) --
  /** store_values: store several values in one call; pairs are
    * (id, DataFrame), aliasing each id to itself is kiara's default. */
  def storeValues(values: Seq[(String, DataFrame)]): Seq[String] =
    values.map { case (id, df) => storeValue(id, df) }
  /** get_values: resolve several refs (ids or aliases) in one call. */
  def getValues(refs: Seq[String]): Map[String, DataFrame] =
    refs.map(r => r -> getValue(r)).toMap

  // --- info surfaces (kiara_api.py:944,590,529) ---------------------------
  /** retrieve_values_info: schema, rows and bytes from parquet footers
    * and the filesystem only — the schema is the one Spark wrote into the
    * footer ([[DataRegistry.load]]), so inspecting a value runs no Spark
    * job and never scans its data pages, whatever its size. */
  def valueInfo(ref: String): ValueInfo = valuesInfo(Seq(ref)).head

  /** Info records of `refs` (all values when empty), from one read each
    * of the lineage log, alias table and metadata log. */
  def valuesInfo(refs: Seq[String] = Seq.empty): Seq[ValueInfo] =
    infos(if (refs.nonEmpty) refs else listValueIds, aliases.list)

  /** retrieve_aliases_info (kiara_api.py:997): the matching aliases'
    * target values, each augmented to a full ValueInfo record. */
  def aliasesInfo(aliasGlob: String = "*"): Seq[(String, ValueInfo)] = {
    val all = aliases.list
    val found = all.filter { case (a, _) => DataRegistry.globMatch(aliasGlob, a) }
    found.map(_._1).zip(infos(found.map(_._2), all))
  }

  private def infos(refs: Seq[String], aliasList: Seq[(String, String)]): Seq[ValueInfo] = {
    val target = aliasList.toMap
    val producers = lineage.producers
    val aliasesOf = aliasList.groupMap(_._2)(_._1)
    val metaOf = metadata.find(refType = Some("value")).groupMap(_.refId)(m => s"${m.key}=${m.value}")
    refs.map { ref =>
      val id = target.getOrElse(ref, ref)
      require(data.exists(id), s"no such value: $ref")
      val dir = data.path(id)
      ValueInfo(id, data.load(spark, id).schema.simpleString, ParquetMeta.dirRowCount(dir),
        ParquetMeta.dirSizeBytes(dir), producers.get(id), aliasesOf.getOrElse(id, Seq.empty),
        metaOf.getOrElse(id, Seq.empty))
    }
  }

  /** retrieve_data_types_info: kiara type name → Spark SQL type. */
  def dataTypesInfo: Seq[(String, String)] =
    TypeMap.toSpark.toSeq.sortBy(_._1).map { case (k, t) => k -> t.sql }

  /** retrieve_data_type_info (kiara_api.py:590, singular). */
  def dataTypeInfo(name: String): (String, String) =
    dataTypesInfo.find(_._1 == name).getOrElse(
      throw new NoSuchElementException(s"unknown data type: $name"))

  /** get_value_str (kiara_api.py:929): bounded text rendering of a
    * stored value — never materializes more than `rows` rows. */
  def getValueStr(idOrAlias: String, rows: Int = 20): String =
    graft.operators.Render.prettyPrint(getValue(idOrAlias), rows)

  /** get_context_info: one-line census of everything rooted here. */
  def contextInfo: ContextInfo =
    ContextInfo(root, data.list.size, aliases.list.size,
      listJobRecordIds.size, workflows.list.size, OpRegistry.list.size)

  // --- value matchers (kiara_api.py:844 list_value_ids(**matchers), :875) --
  /** Matcher-filtered value ids: id glob + schema check, parquet footers
    * only — never a data scan. */
  def findValues(idGlob: String = "*", hasColumn: Option[String] = None): Seq[String] =
    data.find(spark, graft.registries.DataRegistry.Matcher(Some(idGlob), hasColumn))
  /** Matcher-filtered aliases: glob over alias name and/or target id. */
  def findAliases(aliasGlob: String = "*", valueGlob: String = "*"): Seq[(String, String)] =
    aliases.find(aliasGlob, valueGlob)

  // --- import / export (kiara_api.py:1130,1174) ---------------------------
  def importValue(id: String, format: String, path: String,
                  schema: StructType = new StructType()): DataFrame = {
    val df = Convert.convert(format, "table")(spark, path, schema)
    data.store(id, df)
    df
  }
  def exportValue(ref: String, format: String, path: String): Unit = {
    val df = getValue(ref)
    format match {
      case "csv"     => Export.csv(df, path)
      case "json"    => Export.json(df, path)
      case "parquet" => Export.parquet(df, path)
      case other     => throw new IllegalArgumentException(s"unknown export format: $other")
    }
  }

  /** import_values (kiara_api.py:1130): batch import, format dispatched
    * per file from its extension; returns the ids in input order. */
  def importValues(files: Seq[(String, String)]): Seq[String] =
    files.map { case (id, path) =>
      val name = path.substring(path.lastIndexOf('/') + 1)
      val dot = name.lastIndexOf('.')
      if (dot < 0) throw new IllegalArgumentException(
        s"cannot infer import format for $path (no file extension)")
      val fmt = name.substring(dot + 1).toLowerCase match {
        case "csv"                       => "csv"
        case "json" | "jsonl" | "ndjson" => "json"
        case "parquet"                   => "parquet"
        case other => throw new IllegalArgumentException(
          s"cannot infer import format for $path (extension .$other)")
      }
      importValue(id, fmt, path)
      id
    }

  /** export_values (kiara_api.py:1174): batch export under `targetDir`,
    * one `<ref>.<format>` dataset per ref; returns ref → written path. */
  def exportValues(refs: Seq[String], targetDir: String,
                   format: String): Map[String, String] =
    refs.map { r =>
      val path = s"$targetDir/$r.$format"
      exportValue(r, format, path)
      r -> path
    }.toMap

  // --- archives (kiara_api.py:1257 export_archive, :1306 import_archive) --
  /** Bundle values (all by default) + aliases + lineage into a portable
    * archive directory — kiara's primary context-to-context sharing path. */
  def exportArchive(targetDir: String, values: Seq[String] = Seq.empty,
                    noAliases: Boolean = false): Seq[String] =
    graft.registries.Archive.exportArchive(spark, data, aliases, lineage,
      targetDir, values, noAliases)

  /** Import an archive's values (+ aliases, + lineage) into this context. */
  def importArchive(sourceDir: String, noAliases: Boolean = false): Seq[String] =
    graft.registries.Archive.importArchive(spark, data, aliases, lineage,
      sourceDir, noAliases)

  /** retrieve_archive_info (kiara_api.py:1237): inspect an archive's
    * manifest, per-value sizes and row counts WITHOUT importing it. */
  def archiveInfo(sourceDir: String): Archive.ArchiveInfo =
    Archive.archiveInfo(sourceDir)

  /** copy_archive (base_api.py:2496): archive-to-archive value copy —
    * values already in the target are skipped, never duplicated;
    * lineage manifests merge. Returns the ids actually copied. */
  def copyArchive(sourceDir: String, targetDir: String,
                  noAliases: Boolean = false): Seq[String] =
    Archive.copyArchive(sourceDir, targetDir, noAliases)

  /** set_archive_metadata_value (base_api.py:2337): attach key=value to
    * an archive ITSELF (its manifest), not to any value in it. */
  def setArchiveMetadata(archiveDir: String, key: String, value: String): Unit =
    Archive.setArchiveMetadata(archiveDir, key, value)

  // --- mounted archives (base_api.py:2220 register_archive) ---------------

  /** register_archive (base_api.py:2220 — preliminary in the reference,
    * same scope here): attach an archive directory to this context as a
    * NAMED STORE. Values and aliases in it resolve through [[getValue]]
    * WITHOUT an import (the mounted parquet reads in place), and — when
    * `allowWriteAccess` — [[storeValueTo]] writes new values into it.
    * The mount persists under the context root, so a fresh JVM re-mounts
    * automatically. A missing archive is created empty
    * (`createIfNotExists`, kiara's default) or refused. Returns the
    * registered name (directory basename by default, `.kiarchive`
    * suffix stripped like the reference). */
  def registerArchive(archiveDir: String, registeredName: Option[String] = None,
                      allowWriteAccess: Boolean = false,
                      createIfNotExists: Boolean = true,
                      existingOk: Boolean = true): String = {
    require(existingOk || createIfNotExists,
      "'existingOk' and 'createIfNotExists' cannot both be false")
    val exists = java.nio.file.Files.exists(
      java.nio.file.Paths.get(archiveDir, "manifest.json"))
    if (exists) require(existingOk, s"archive already exists: $archiveDir")
    else {
      require(createIfNotExists, s"archive does not exist: $archiveDir")
      Archive.createArchive(archiveDir)
    }
    val name = registeredName.getOrElse(
      new java.io.File(archiveDir).getName.stripSuffix(".kiarchive"))
    mounts.set(name, archiveDir, allowWriteAccess)
    name
  }

  /** The registered archive mounts: (name, directory, writable). */
  def listRegisteredArchives: Seq[(String, String, Boolean)] = mounts.list

  /** store_value INTO a registered archive (kiara's `store_value(...,
    * store=<registered name>)` seam): refused unless the mount was
    * registered with write access; existing ids are refused, never
    * overwritten. */
  def storeValueTo(store: String, id: String, df: DataFrame,
                   alias: Option[String] = None): String = {
    val (dir, writable) = mounts.get(store).getOrElse(
      throw new NoSuchElementException(s"no registered archive: $store"))
    require(writable, s"archive '$store' is mounted read-only")
    Archive.storeValueInArchive(df, dir, id, alias)
    id
  }
}
