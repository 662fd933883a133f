package graft.plans

import org.apache.spark.sql.DataFrame

/** Pipeline DAG execution — the Spark-native analogue of kiara's defining
  * feature (operations/included_core_operations/pipeline.py:65,
  * modules/included_core_modules/pipeline.py:29, models/module/pipeline/).
  *
  * Steps are named DataFrame transforms with named inputs; execution is a
  * topological walk. Because every step RETURNS a lazy DataFrame, the
  * "executed" pipeline is one fused Catalyst plan — Spark optimizes across
  * step boundaries (pushdown through the whole DAG), which is precisely
  * why this re-expression beats step-at-a-time materialization at scale.
  */
object Pipeline {

  /** One step: consumes named values (pipeline inputs or prior step
    * outputs), produces one named value. */
  final case class Step(name: String, inputs: Seq[String], fn: Map[String, DataFrame] => DataFrame)

  final case class StepRecord(step: String, inputs: Seq[String], outputSchema: String)

  final case class Result(values: Map[String, DataFrame], lineage: Seq[StepRecord]) {
    def apply(name: String): DataFrame = values(name)
  }

  /** Topologically execute; fails fast on unknown inputs or cycles. */
  def run(steps: Seq[Step], inputs: Map[String, DataFrame]): Result = {
    val byName = steps.map(s => s.name -> s).toMap
    require(byName.size == steps.size, "duplicate step names")
    require(!steps.exists(s => inputs.contains(s.name)),
      s"step names shadow pipeline inputs: ${steps.map(_.name).filter(inputs.contains).mkString(", ")}")
    var values = inputs
    var lineage = Vector.empty[StepRecord]
    var remaining = steps
    while (remaining.nonEmpty) {
      val (ready, blocked) = remaining.partition(_.inputs.forall(values.contains))
      if (ready.isEmpty) {
        val missing = blocked.flatMap(s => s.inputs.filterNot(values.contains)).distinct
        throw new IllegalArgumentException(
          s"pipeline cannot progress; unresolved inputs: ${missing.mkString(", ")} " +
            s"(cycle or unknown name among steps ${blocked.map(_.name).mkString(", ")})")
      }
      ready.foreach { s =>
        val out = s.fn(s.inputs.map(i => i -> values(i)).toMap)
        values += (s.name -> out)
        lineage :+= StepRecord(s.name, s.inputs, out.schema.simpleString)
      }
      remaining = blocked
    }
    Result(values, lineage)
  }
}

/** custom_module operator registration
  * (operations/included_core_operations/__init__.py:63): user code registers
  * named DataFrame transforms; pipelines and callers resolve them by name.
  * Each operation carries an info record (doc + input/output type hints) —
  * kiara's OperationInfo surface (kiara_api.py:770
  * retrieve_operation_info, :679 list_operation_ids filters). */
object OpRegistry {
  type Op = DataFrame => DataFrame
  /** Binary operation — a DAG step with TWO upstream values (join,
    * union, enrich, anti-diff): the arity kiara's multi-input pipeline
    * steps have (models/module/pipeline: step input_links can name
    * several upstream fields; connect_steps wires them). Unary chains
    * stay `Op`; persistable multi-input steps encode their inputs
    * '+'-joined (the convention `describe` already prints). */
  type Op2 = (DataFrame, DataFrame) => DataFrame

  /** Operation metadata (kiara models/module/operations.py analogue).
    * `module` is the module TYPE this operation instantiates — the
    * name's dotted prefix by default ("text.clean" → "text"). */
  final case class OpInfo(name: String, doc: String,
                          inputType: String = "table", outputType: String = "table",
                          module: String = "")

  /** Module-type info record (kiara_api.py:632 list_module_type_names,
    * :638 retrieve_module_types_info, :662 retrieve_module_type_info):
    * a module type is the implementing class behind a family of
    * registered operations — kiara's module-vs-operation distinction. */
  final case class ModuleTypeInfo(name: String, doc: String, implementing: String,
                                  inputType: String, outputType: String,
                                  operations: Seq[String])

  /** A manifest — kiara's Manifest model (models/module/manifest.py:
    * module type + module config), the unit `create_operation` /
    * `queue_manifest` / `run_manifest` (base_api.py:711,2904,2956)
    * instantiate operations from. The cid is content-derived so the
    * same (type, config) always names the same operation instance. */
  final case class Manifest(moduleType: String, config: Map[String, String]) {
    /** Canonical one-line rendering — what lineage metadata records.
      * Display only: '='/','-containing values render ambiguously here,
      * which is why [[cid]] hashes a length-prefixed encoding instead. */
    def render: String =
      s"$moduleType{${config.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")}}"
    def cid: String = {
      // length-prefixed canonical encoding: unambiguous for ANY key/value
      // content (a "k=v,k2=v2" join would collide {a:"1,b=2"} with
      // {a:"1", b:"2"} — ADVICE r13), so distinct configs can never share
      // an operation id and silently skip the factory's eager validation.
      // MIGRATION NOTE (ADVICE r14): this encoding changed every
      // manifest-derived id for non-empty configs vs pre-r14 builds;
      // persisted workflows referencing old <type>._m<cid> step ids must
      // re-run createOperation once. No legacy-cid lookup fallback is
      // provided ON PURPOSE — probing the ambiguous render-based cid
      // would resurrect the exact collision surface this fix closed.
      val canonical = (Seq(moduleType) ++ config.toSeq.sorted.flatMap {
        case (k, v) => Seq(k, v)
      }).map(s => s"${s.length}:$s").mkString("|")
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(canonical.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString
    }
    /** The derived operation id a manifest instantiates under —
      * deterministic, charset-safe, collision-free per (type, config). */
    def operationId: String = s"$moduleType._m$cid"
  }

  /** A configurable module factory: config map → operation (kiara's
    * module class + module_config constructor seam). Factories VALIDATE
    * eagerly — a bad config must fail at create_operation time, not on
    * the first pipeline action. */
  final case class Factory(moduleType: String, doc: String,
                           configKeys: Seq[String],
                           build: Map[String, String] => Op)

  private val ops = scala.collection.concurrent.TrieMap[String, Op]()
  private val ops2 = scala.collection.concurrent.TrieMap[String, Op2]()
  private val infos = scala.collection.concurrent.TrieMap[String, OpInfo]()
  // module type → (doc, implementing class)
  private val modules = scala.collection.concurrent.TrieMap[String, (String, String)]()
  // configurable module types (module_config-accepting kiara modules)
  private val factories = scala.collection.concurrent.TrieMap[String, Factory]()

  private def defaultModule(name: String): String =
    name.split('.').headOption.getOrElse(name)

  def register(name: String, op: Op): Unit = register(name, op, doc = "")
  def register(name: String, op: Op, doc: String,
               inputType: String = "table", outputType: String = "table",
               module: String = ""): Unit = {
    ops.put(name, op)
    val m = if (module.nonEmpty) module else defaultModule(name)
    infos.put(name, OpInfo(name, doc, inputType, outputType, m))
  }

  /** Register a BINARY operation (two-input DAG step). The info record
    * marks the input type "table+table" so catalogs show the arity. */
  def register2(name: String, op: Op2, doc: String = "",
                module: String = ""): Unit = {
    require(!ops.contains(name), s"'$name' is already a unary operation")
    ops2.put(name, op)
    val m = if (module.nonEmpty) module else defaultModule(name)
    infos.put(name, OpInfo(name, doc, inputType = "table+table",
      outputType = "table", module = m))
  }

  /** Declare a module type's doc + implementing class (kiara module
    * classes are python entry points; the JVM twin is the operator
    * object the registered transforms close over). */
  def registerModuleType(name: String, doc: String, implementing: String): Unit =
    modules.put(name, (doc, implementing))

  /** Declare a CONFIGURABLE module type (kiara module class accepting
    * module_config): manifests over it instantiate operations. */
  def registerFactory(moduleType: String, doc: String, configKeys: Seq[String],
                      build: Map[String, String] => Op): Unit =
    factories.put(moduleType, Factory(moduleType, doc, configKeys, build))

  /** Configurable module types, sorted. */
  def factoryNames: Seq[String] = factories.keys.toSeq.sorted

  def factoryInfo(moduleType: String): Factory =
    factories.getOrElse(moduleType, throw new NoSuchElementException(
      s"module type is not configurable (no factory): $moduleType " +
        s"(configurable: ${factoryNames.mkString(", ")})"))

  /** create_operation (base_api.py:711): instantiate the module type
    * with this manifest's config and REGISTER the resulting operation
    * under the manifest's derived id, so `runJob`/`queueJob`/pipelines
    * resolve it like any named operation. Idempotent per manifest
    * (same (type, config) → same id, registered once); unknown config
    * keys are refused — kiara's pydantic config validation twin. */
  def instantiate(m: Manifest): String = {
    val f = factoryInfo(m.moduleType)
    val unknown = m.config.keySet -- f.configKeys.toSet
    require(unknown.isEmpty,
      s"unknown config key(s) ${unknown.toSeq.sorted.mkString(", ")} for module " +
        s"type '${m.moduleType}' (accepted: ${f.configKeys.mkString(", ")})")
    val id = m.operationId
    if (!ops.contains(id)) {
      val op = f.build(m.config) // eager validation happens in the factory
      register(id, op,
        doc = s"manifest-configured ${m.moduleType}: ${m.render}",
        module = m.moduleType)
    }
    id
  }

  /** Module types: every declared type plus any module name referenced
    * by a registered operation (custom registrations without a declared
    * type still surface). */
  def moduleTypeNames: Seq[String] =
    (modules.keys ++ infos.values.map(_.module)).toSeq.distinct.sorted

  def moduleTypeInfo(name: String): ModuleTypeInfo = {
    val members = infos.values.filter(_.module == name).toSeq.sortBy(_.name)
    val (doc, impl) = modules.getOrElse(name,
      if (members.isEmpty)
        throw new NoSuchElementException(s"module type not registered: $name")
      else ("", "custom"))
    def uniform(f: OpInfo => String): String =
      members.map(f).distinct match {
        case Seq(one) => one
        case Seq()    => "table"
        case many     => many.mkString("|")
      }
    ModuleTypeInfo(name, doc, impl, uniform(_.inputType), uniform(_.outputType),
      members.map(_.name))
  }

  def moduleTypesInfo: Seq[ModuleTypeInfo] = moduleTypeNames.map(moduleTypeInfo)
  def get(name: String): Op =
    ops.getOrElse(name,
      if (ops2.contains(name)) throw new IllegalArgumentException(
        s"operator '$name' takes two inputs (use get2 / a two-input step)")
      else throw new NoSuchElementException(s"operator not registered: $name"))
  def get2(name: String): Op2 =
    ops2.getOrElse(name,
      if (ops.contains(name)) throw new IllegalArgumentException(
        s"operator '$name' takes one input")
      else throw new NoSuchElementException(s"operator not registered: $name"))
  def list: Seq[String] = (ops.keys ++ ops2.keys).toSeq.sorted
  def contains(name: String): Boolean = ops.contains(name) || ops2.contains(name)
  /** Remove a registered operation — the pipeline RE-registration path
    * (a re-registered pipeline may change arity, so the stale unary or
    * binary entry must go before the new one lands). */
  private[graft] def unregister(name: String): Unit = {
    ops.remove(name); ops2.remove(name); infos.remove(name)
  }
  /** The declared input arity of a registered operation (1 or 2). */
  def arity(name: String): Int =
    if (ops.contains(name)) 1
    else if (ops2.contains(name)) 2
    else throw new NoSuchElementException(s"operator not registered: $name")

  /** Full info for one operation. */
  def info(name: String): OpInfo =
    infos.getOrElse(name, throw new NoSuchElementException(s"operator not registered: $name"))

  /** Build an executable step from a persisted (step, op, input)
    * triple: `input` is one value name, or two '+'-joined names for a
    * binary operation (kiara connect_steps wiring, encoded with the
    * convention `WorkflowRegistry.describe` always printed). */
  def step(stepName: String, op: String, input: String): Pipeline.Step = {
    // empty parts kept: "a+" must fail as malformed, not parse unary
    val parts = graft.registries.WorkflowRegistry.OpStep.inputs(input)
    require(parts.forall(_.nonEmpty), s"malformed step input: '$input'")
    arity(op) match {
      case 1 =>
        require(parts.length == 1,
          s"operation '$op' takes one input, got '$input'")
        Pipeline.Step(stepName, parts, in => get(op)(in(parts.head)))
      case _ =>
        require(parts.length == 2,
          s"operation '$op' takes two inputs 'a+b', got '$input'")
        Pipeline.Step(stepName, parts, in => get2(op)(in(parts(0)), in(parts(1))))
    }
  }

  /** Filtered ids (kiara list_operation_ids): every filter term must
    * appear in the id or its doc (case-insensitive). */
  def find(filters: String*): Seq[String] =
    list.filter { n =>
      val hay = (n + " " + infos.get(n).map(_.doc).getOrElse("")).toLowerCase
      filters.forall(f => hay.contains(f.toLowerCase))
    }
}
