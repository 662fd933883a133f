package graft.registries

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.plans.{OpRegistry, Pipeline}

/** Typed registry events — kiara's registry event system (reference
  * src/kiara/registries/events/__init__.py:13 EventListener protocol;
  * models/events/data_registry.py:37 ValueRegisteredEvent / :47
  * ValueStoredEvent; models/events/alias_registry.py:39
  * AliasStoredEvent; models/events/job_registry.py:36
  * JobRecordStoredEvent). */
object RegistryEvents {
  sealed trait Event
  /** Fired BEFORE the value write starts — the only event where a
    * throwing listener genuinely VETOES the mutation (nothing has been
    * written yet). All other events fire after durability. */
  final case class ValueStoring(id: String) extends Event
  final case class ValueStored(id: String, path: String) extends Event
  final case class AliasStored(alias: String, valueId: String) extends Event
  final case class JobRecordStored(runId: String, step: String,
                                   inputs: Seq[String]) extends Event
  final case class MetadataStored(key: String, refType: String,
                                  refId: String, hash: String) extends Event
  final case class WorkflowStored(name: String, persisted: Boolean) extends Event
  final case class CommentStored(jobId: String) extends Event
}

/** Synchronous listener bus the mutating registries fire into — the
  * "run this QC hook on every new value" surface. GraftApi wires ONE
  * bus through data/alias/lineage, so a single subscription observes
  * every mutation in order; standalone registries default to a private
  * bus (events go nowhere until someone subscribes to that instance).
  * Except for the pre-write [[RegistryEvents.ValueStoring]], listeners
  * run AFTER the mutation is durable — an event is never fired for a
  * write that then failed — and synchronously on the mutating thread
  * (kiara's EventListener contract), so a throwing listener propagates
  * to the caller. Throwing on a post-write event ABORTS THE CALLER'S
  * CONTINUATION, not the write itself (the value is already on disk);
  * a QC hook that must veto the write throws on ValueStoring. */
final class EventBus {
  private val listeners =
    new java.util.concurrent.CopyOnWriteArrayList[RegistryEvents.Event => Unit]()
  def subscribe(l: RegistryEvents.Event => Unit): Unit = listeners.add(l)
  private[registries] def fire(e: RegistryEvents.Event): Unit =
    listeners.forEach(l => l(e))
}

object DataRegistry {
  /** Value matcher (kiara_api.py:844 `list_value_ids(**matcher_params)`):
    * filter the catalog without loading any value. `idGlob` is a shell
    * glob on the id; `hasColumn` checks the stored schema — read from the
    * parquet FOOTER only, never a data scan. */
  final case class Matcher(idGlob: Option[String] = None, hasColumn: Option[String] = None)

  /** Shell-glob → anchored regex (`*` any run, `?` one char). */
  private[graft] def globMatch(glob: String, s: String): Boolean = {
    val rx = glob.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if "\\.[]{}()+-^$|".contains(c) => "\\" + c
      case c => c.toString
    }
    s.matches(rx)
  }
}

/** Parquet-backed value catalog — kiara's data store
  * (registries/data/data_store/): store a DataFrame under a value id,
  * load it back, enumerate. Values live as parquet (columnar, splittable)
  * so a stored value is immediately a first-class distributed table again.
  */
class DataRegistry(root: String, bus: EventBus = new EventBus) {
  // same id validation on every path that touches the filesystem — a raw
  // alias target like "../x" must not escape the registry root
  private def dir(id: String) = {
    Names.validate("value id", id)
    s"$root/values/$id"
  }
  Files.createDirectories(Paths.get(s"$root/values"))

  def store(id: String, df: DataFrame): String = {
    // pre-write event: a throwing listener vetoes the store — nothing
    // is on disk yet (dir(id) also validates the id before the fire)
    val d = dir(id)
    bus.fire(RegistryEvents.ValueStoring(id))
    df.write.mode("overwrite").parquet(d)
    bus.fire(RegistryEvents.ValueStored(id, d))
    id
  }
  /** The schema comes from the value's parquet footer
    * ([[ParquetMeta.read]]), so loading runs no Spark job. */
  def load(spark: SparkSession, id: String): DataFrame = ParquetMeta.read(spark, dir(id))
  def exists(id: String): Boolean = Files.exists(Paths.get(dir(id)))
  /** On-disk location of a stored value (validated id) — the info
    * surfaces read footers/sizes from here without loading the value. */
  def path(id: String): String = dir(id)
  def list: Seq[String] = {
    val s = Files.list(Paths.get(s"$root/values"))
    try s.iterator.asScala.map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  /** Matcher-filtered ids: the id filter is pure string work; the schema
    * filter reads one parquet footer per value, in-process ([[load]]
    * takes the schema Spark wrote there), so it runs no Spark job and
    * touches no data page. */
  def find(spark: SparkSession, m: DataRegistry.Matcher): Seq[String] = {
    val byId = m.idGlob.fold(list)(g => list.filter(DataRegistry.globMatch(g, _)))
    m.hasColumn.fold(byId)(c =>
      byId.filter(id => load(spark, id).schema.fieldNames.contains(c)))
  }
}

/** Alias registry (kiara registries/aliases/): human names → value ids,
  * persisted as a flat properties file. */
class AliasRegistry(root: String, bus: EventBus = new EventBus) {
  private val table = new RegistryFile.Table(Paths.get(s"$root/aliases.properties"))
  Files.createDirectories(Paths.get(root))

  /** Validated + atomic: alias names share the value-id charset (an '='
    * or newline would corrupt the flat file), and the rewrite is the
    * file layer's temp file + atomic move, so concurrent readers never
    * see a torn file. */
  def set(alias: String, valueId: String): Unit = synchronized {
    Names.validate("alias name", alias)
    Names.validate("value id", valueId)
    table.updateEntries(_ + (alias -> valueId))
    bus.fire(RegistryEvents.AliasStored(alias, valueId))
  }
  def resolve(alias: String): Option[String] = table.entries.get(alias)
  def list: Seq[(String, String)] = table.entries.toSeq.sorted

  /** Matcher-filtered aliases (kiara_api.py:875 `list_aliases` analogue):
    * glob over alias name and/or target value id — flat-file lookup,
    * no value IO at all. */
  def find(aliasGlob: String = "*", valueGlob: String = "*"): Seq[(String, String)] =
    list.filter { case (a, v) =>
      DataRegistry.globMatch(aliasGlob, a) && DataRegistry.globMatch(valueGlob, v)
    }
}

object LineageRegistry {
  /** One parsed lineage record: step (= produced value name), the value
    * names it consumed, the run that produced it, and (for job runs
    * since r8) the environment cid of the session that ran it
    * (kiara registries/environment: jobs reference runtime snapshots). */
  final case class StepNode(run: String, step: String, inputs: Seq[String],
                            schema: String, env: Option[String] = None)

  // one run-id sequence per root, JVM-wide, keyed by normalized path
  private val sequences = new ConcurrentHashMap[String, AtomicLong]()

  /** The number that ends a run id: `job-N`, `batch-<name>-N`,
    * `<opId>-run-N`, `wfs-<name>-N`. */
  private def runNumber(id: String): Option[Long] =
    id.substring(id.lastIndexOf('-') + 1).toLongOption
}

/** Job/lineage registry (kiara registries/jobs/, models/module/jobs.py):
  * append-only JSONL of executed steps with inputs and output schemas —
  * the one job table of a context root. Each lookup parses the whole log,
  * so every writer's appends are seen. */
class LineageRegistry(root: String, bus: EventBus = new EventBus) {
  import LineageRegistry._
  private val log = new RegistryFile.Log(Paths.get(s"$root/lineage.jsonl"))
  Files.createDirectories(Paths.get(root))

  private def line(runId: String, rec: Pipeline.StepRecord, envCid: Option[String]): String =
    Jsonl.line("run" -> runId, "step" -> rec.step, "inputs" -> rec.inputs,
      "schema" -> rec.outputSchema, "env" -> envCid)

  def record(runId: String, rec: Pipeline.StepRecord,
             envCid: Option[String] = None): Unit = {
    log.append(line(runId, rec, envCid))
    bus.fire(RegistryEvents.JobRecordStored(runId, rec.step, rec.inputs))
  }
  /** One run's records, appended as one write (they stay contiguous in
    * the log), then one event per record. */
  def recordRun(runId: String, recs: Seq[Pipeline.StepRecord]): Unit = {
    log.appendAll(recs.map(line(runId, _, None)))
    recs.foreach(r => bus.fire(RegistryEvents.JobRecordStored(runId, r.step, r.inputs)))
  }
  def lines: Seq[String] = log.lines
  /** Append an already-serialized record line (archive import path). */
  def appendRaw(line: String): Unit = log.append(line)

  /** All records, parsed (the writer is `line` above). */
  def records: Seq[StepNode] = log.objects.flatMap { o =>
    for (r <- Jsonl.text(o, "run"); s <- Jsonl.text(o, "step")) yield StepNode(r, s,
      Jsonl.texts(o, "inputs"), Jsonl.text(o, "schema").getOrElse(""), Jsonl.text(o, "env"))
  }

  /** The last record of one run — a job's record. */
  def lastOfRun(runId: String): Option[StepNode] = records.findLast(_.run == runId)

  /** Each value's producing run: the run of its last record. */
  def producers: Map[String, String] = records.map(n => n.step -> n.run).toMap

  /** The recorded job ids (`job-` runs), sorted, each with its last record. */
  def jobs: Seq[(String, StepNode)] = records.filter(_.run.startsWith("job-"))
    .groupMapReduce(_.run)(identity)((_, last) => last).toSeq.sortBy(_._1)

  /** The next number of this root's one run-id sequence, shared by every
    * instance in the JVM. It never falls behind a number in the log, nor
    * one in the comment store: a failed queued job leaves no record, but
    * its comment must not pass to a new job of the same id. */
  def nextRun(): Long = {
    val used = (records.map(_.run) ++ new CommentStore(root).list.map(_._1)).flatMap(runNumber)
    sequences.computeIfAbsent(Paths.get(root).toAbsolutePath.normalize.toString, _ => new AtomicLong)
      .updateAndGet(n => n.max(used.maxOption.getOrElse(0L)) + 1)
  }

  // --- provenance graph traversal (kiara_api.py:243
  //     retrieve_augmented_value_lineage) ---------------------------------

  /** Upstream provenance closure of a value: its producing step, the
    * steps that produced ITS inputs, and so on to the pipeline leaves —
    * BFS order (value's producer first). When a step was re-recorded
    * (re-runs), the LATEST record wins. Leaves (raw inputs that no step
    * produced) appear only inside `inputs` of returned nodes. */
  def upstream(value: String): Seq[StepNode] = {
    val latest = records.groupBy(_.step).map { case (k, v) => k -> v.last }
    val out = scala.collection.mutable.ArrayBuffer.empty[StepNode]
    val seen = scala.collection.mutable.Set.empty[String]
    var frontier = Seq(value)
    while (frontier.nonEmpty) {
      val nodes = frontier.filterNot(seen.contains).flatMap { v => seen += v; latest.get(v) }
      out ++= nodes
      frontier = nodes.flatMap(_.inputs).distinct
    }
    out.toSeq
  }
}

/** Workflow registry (kiara registries/workflows/sqlite_store.py: named
  * pipelines that survive a restart): workflows registered as DAGs of
  * NAMED OpRegistry operations persist to `workflows.properties` under
  * the registry root and can be re-run by a fresh JVM — the operation
  * CODE is re-resolved by name at run time (kiara's contract too: the
  * module providing an operation must be importable when a stored
  * workflow runs). Arbitrary-closure workflows (`register`) stay
  * in-memory only, since a Scala closure has no portable serialization.
  */
object WorkflowRegistry {
  /** One persistable step: apply registered op `op` to the named value
    * `input`, producing value `name`. */
  final case class OpStep(name: String, op: String, input: String)

  /** The one step-record codec: `name:op:input` records joined by ','.
    * It is exact because every part is a [[Names]] identifier and that
    * charset excludes the separators. A binary step's input is two
    * '+'-joined names (the convention `describe` prints). */
  object OpStep {
    private[graft] def encode(steps: Seq[OpStep]): String =
      steps.map(s => s"${s.name}:${s.op}:${s.input}").mkString(",")

    private[graft] def decode(s: String): Vector[OpStep] =
      s.split(',').toVector.filter(_.nonEmpty).map { r =>
        val p = r.split(':'); OpStep(p(0), p(1), p(2))
      }

    /** A step input's parts. -1 keeps empty parts, so "a+", "+a" and
      * "a++b" each show an empty one instead of parsing as valid. */
    private[graft] def inputs(input: String): Seq[String] = input.split("\\+", -1).toSeq

    /** Name, op and one or two input parts all in the charset — checked
      * at registration, not later inside OpRegistry.step. */
    private[graft] def valid(st: OpStep): Boolean = {
      val parts = inputs(st.input)
      Names.isValid(st.name) && Names.isValid(st.op) &&
        parts.length <= 2 && parts.forall(Names.isValid)
    }
  }
}

class WorkflowRegistry(root: String, lineage: LineageRegistry,
                       bus: EventBus = new EventBus) {
  import WorkflowRegistry.OpStep

  private val flows = scala.collection.concurrent.TrieMap[String, Seq[Pipeline.Step]]()
  // flat `wf=step:op:input,step:op:input` lines (the OpStep codec)
  private val table = new RegistryFile.Table(Paths.get(s"$root/workflows.properties"))
  Files.createDirectories(Paths.get(root))

  /** In-memory registration for arbitrary-closure steps (not persisted). */
  def register(name: String, steps: Seq[Pipeline.Step]): Unit = {
    require(resolveAlias(name).isEmpty,
      s"'$name' is already a workflow alias (over '${resolveAlias(name).get}')")
    flows.put(name, steps)
    bus.fire(RegistryEvents.WorkflowStored(name, persisted = false))
  }

  private def readAll(): Map[String, Seq[OpStep]] =
    table.entries.map { case (n, v) => n -> OpStep.decode(v) }

  /** Register a persistable workflow: each part is validated against the
    * registry charset, then the whole table is atomically rewritten. */
  def registerOps(name: String, steps: Seq[OpStep]): Unit = synchronized {
    require(Names.isValid(name), s"bad workflow name: $name")
    require(resolveAlias(name).isEmpty,
      s"'$name' is already a workflow alias (over '${resolveAlias(name).get}')")
    steps.foreach(st => require(OpStep.valid(st), s"bad step part in: $st"))
    table.updateEntries(_ + (name -> OpStep.encode(steps)))
    bus.fire(RegistryEvents.WorkflowStored(name, persisted = true))
  }

  def list: Seq[String] = (flows.keys.toSeq ++ readAll().keys).distinct.sorted

  // --- workflow aliases (kiara base_api.py:3366 list_workflow_alias_names;
  //     registries/workflows/__init__.py workflow_aliases: alias -> id) ---
  // A flat properties table like AliasRegistry's; an alias is a second
  // durable name over a PERSISTED workflow. Aliases may not collide with
  // workflow names (resolution would shadow — the same lesson as ADVICE
  // r12's createWorkflow fix).
  private val aliasTable =
    new RegistryFile.Table(Paths.get(s"$root/workflow_aliases.properties"))

  private def readAliases(): Map[String, String] = aliasTable.entries

  /** Register `alias` over persisted workflow `workflow` (latest wins,
    * like value aliases). Refused for in-memory-only workflows: the
    * alias file must never point at a name a fresh JVM can't resolve. */
  def setAlias(alias: String, workflow: String): Unit = synchronized {
    Names.validate("workflow alias", alias)
    require(isPersisted(workflow),
      s"workflow is not persisted (save it first): $workflow")
    require(!readAll().contains(alias) && !flows.contains(alias),
      s"alias '$alias' collides with an existing workflow name")
    aliasTable.updateEntries(_ + (alias -> workflow))
    bus.fire(RegistryEvents.WorkflowStored(alias, persisted = true))
  }

  /** All alias names (base_api.py:3366 list_workflow_alias_names). */
  def aliasNames: Seq[String] = readAliases().keys.toSeq.sorted

  /** alias -> workflow name, or None when `alias` isn't one. */
  def resolveAlias(alias: String): Option[String] = readAliases().get(alias)

  /** The aliases registered over one workflow (kiara get_aliases). */
  def aliasesFor(workflow: String): Seq[String] =
    readAliases().collect { case (a, w) if w == workflow => a }.toSeq.sorted

  /** Resolve a workflow reference: a real name wins (aliases may not
    * collide with names, so the order is unambiguous), else an alias. */
  def resolve(ref: String): String =
    if (flows.contains(ref) || readAll().contains(ref)) ref
    else resolveAlias(ref).getOrElse(ref)

  /** Step structure for the explain surfaces: in-memory closure steps
    * report op = "<closure>" with their declared inputs; persisted
    * workflows report the stored (step, op, input) triples. */
  def describe(ref: String): Seq[OpStep] = {
    val name = resolve(ref)
    flows.get(name)
      .map(_.map(s => OpStep(s.name, "<closure>", s.inputs.mkString("+"))))
      .orElse(readAll().get(name))
      .getOrElse(throw new NoSuchElementException(s"unknown workflow: $ref"))
  }

  def isPersisted(ref: String): Boolean = readAll().contains(resolve(ref))

  def run(ref: String, runId: String, inputs: Map[String, DataFrame]): Pipeline.Result = {
    val name = resolve(ref)
    val steps = flows.get(name)
      .orElse(readAll().get(name).map(_.map(st =>
        OpRegistry.step(st.name, st.op, st.input))))
      .getOrElse(throw new NoSuchElementException(s"workflow not registered: $ref"))
    val res = Pipeline.run(steps, inputs)
    lineage.recordRun(runId, res.lineage)
    res
  }
}

/** Pipeline-definition registry (kiara base_api.py:1277
  * `register_pipeline` + operation_registry.register_pipeline): pipeline
  * SPECS registered as first-class operations, persisted so a fresh JVM
  * re-registers them into [[graft.plans.OpRegistry]] under the same
  * operation id. Same flat `opId=step:op:input,...` encoding and
  * atomic-rewrite discipline as [[WorkflowRegistry]] (the id/step
  * charset excludes the separators). Step OPERATIONS resolve by name at
  * run time — kiara's contract: the module providing an operation must
  * be importable when a stored pipeline runs. */
class PipelineRegistry(root: String, bus: EventBus = new EventBus) {
  import WorkflowRegistry.OpStep

  private val table = new RegistryFile.Table(Paths.get(s"$root/pipelines.properties"))
  Files.createDirectories(Paths.get(root))

  private def readAll(): Map[String, Seq[OpStep]] =
    table.entries.map { case (n, v) => n -> OpStep.decode(v) }

  /** Persist a pipeline definition under its operation id (validated
    * charset, atomic rewrite). Latest registration wins, like kiara's
    * operation registry. */
  def put(opId: String, steps: Seq[OpStep]): Unit = synchronized {
    Names.validate("pipeline operation id", opId)
    require(steps.nonEmpty, s"pipeline '$opId' has no steps")
    steps.foreach(st => require(OpStep.valid(st), s"bad step part in: $st"))
    table.updateEntries(_ + (opId -> OpStep.encode(steps)))
    bus.fire(RegistryEvents.WorkflowStored(opId, persisted = true))
  }

  /** Every definition, sorted by operation id, from one read. */
  def all: Seq[(String, Seq[OpStep])] = readAll().toSeq.sortBy(_._1)
  def list: Seq[String] = readAll().keys.toSeq.sorted
  def contains(opId: String): Boolean = readAll().contains(opId)
  def describe(opId: String): Seq[OpStep] =
    readAll().getOrElse(opId,
      throw new NoSuchElementException(s"unknown pipeline operation: $opId"))

  /** Drop a definition (registration-rollback path). */
  def remove(opId: String): Unit = table.updateEntries(_ - opId)
}

/** Mounted-archive registry (kiara base_api.py:2220 `register_archive`):
  * name -> (archive dir, writable), persisted append-only JSONL under the
  * context root so a fresh JVM re-mounts automatically. Latest
  * registration per name wins (re-pointing a name is an append, never a
  * rewrite). Paths are free text (JSON-escaped) — only the NAME uses the
  * restricted registry charset. */
class MountRegistry(root: String) {
  private val log = new RegistryFile.Log(Paths.get(s"$root/mounts.jsonl"))
  Files.createDirectories(Paths.get(root))

  def set(name: String, dir: String, writable: Boolean): Unit = {
    Names.validate("archive name", name)
    log.append(Jsonl.line("name" -> name, "dir" -> dir, "writable" -> writable))
  }

  /** Latest mount per name, sorted by name. */
  def list: Seq[(String, String, Boolean)] = {
    val all = log.objects.flatMap { o =>
      for {
        n <- Jsonl.text(o, "name")
        d <- Jsonl.text(o, "dir")
        w <- Option(o.get("writable")).filter(_.isBoolean).map(_.booleanValue)
      } yield (n, d, w)
    }
    all.groupBy(_._1).map(_._2.last).toSeq.sortBy(_._1)
  }

  def get(name: String): Option[(String, Boolean)] =
    list.collectFirst { case (n, d, w) if n == name => (d, w) }
}

/** Job comments (kiara_api.py:186 `set_job_comment`, :209
  * `get_job_comment`): free-text notes attached to job ids, persisted as
  * append-only JSONL next to the lineage log. Comments are arbitrary
  * text (fully JSON-escaped); the latest write for a job wins, so
  * updating a comment is an append, never a rewrite. */
class CommentStore(root: String, bus: EventBus = new EventBus) {
  private val log = new RegistryFile.Log(Paths.get(s"$root/job_comments.jsonl"))
  Files.createDirectories(Paths.get(root))

  def set(jobId: String, comment: String): Unit = synchronized {
    Names.validate("job id", jobId)
    log.append(Jsonl.line("job" -> jobId, "comment" -> comment))
    bus.fire(RegistryEvents.CommentStored(jobId))
  }

  /** Latest comment per job, sorted by job id. */
  def list: Seq[(String, String)] = {
    val all = log.objects.flatMap { o =>
      for (j <- Jsonl.text(o, "job"); c <- Jsonl.text(o, "comment")) yield j -> c
    }
    all.groupBy(_._1).map { case (j, cs) => j -> cs.last._2 }.toSeq.sortBy(_._1)
  }

  /** Latest-wins single-key lookup: scan the log backwards and stop at
    * the first match instead of parsing and grouping the whole file. */
  def get(jobId: String): Option[String] =
    log.lines.reverseIterator.flatMap(Jsonl.readObject).flatMap { o =>
      for (j <- Jsonl.text(o, "job") if j == jobId; c <- Jsonl.text(o, "comment")) yield c
    }.nextOption()
}

object MetadataRegistry {
  /** One metadata item: content hash, user key, free-text/JSON value,
    * and the item it annotates (`refType` "value"/"job" + id) — kiara's
    * KiaraMetadata + reference_item_* triple
    * (registries/metadata/__init__.py:309 register_metadata_item). */
  final case class MetadataItem(hash: String, key: String, value: String,
                                refType: String, refId: String)

  /** Content hash of a metadata item — key and value only, like kiara's
    * model-data hash (the same item attached to two values shares a
    * hash, and retrieve-by-hash is reference-independent,
    * registries/metadata/__init__.py:233). */
  def itemHash(key: String, value: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s"$key $value".getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }
}

/** Value-metadata registry (kiara registries/metadata/__init__.py:94
  * `MetadataRegistry`): arbitrary typed metadata items (provenance
  * notes, source licences, QC verdicts) attached to stored values or
  * jobs, persisted append-only next to the lineage log. Latest write
  * for a (key, refType, refId) triple wins — kiara's
  * `replace_existing_references=True` path (:309); items are findable
  * by key glob (:203 find_metadata_items) and retrievable by content
  * hash (:233 retrieve_metadata_item_with_hash). */
class MetadataRegistry(root: String, bus: EventBus = new EventBus) {
  import MetadataRegistry._
  private val log = new RegistryFile.Log(Paths.get(s"$root/metadata.jsonl"))
  Files.createDirectories(Paths.get(root))

  /** Attach `key` = `value` to `refId`; returns the item's content
    * hash (kiara returns the item id, :309). */
  def register(key: String, value: String, refType: String,
               refId: String): String = synchronized {
    Names.validate("metadata key", key)
    require(refType == "value" || refType == "job",
      s"refType must be 'value' or 'job', got: $refType")
    val h = itemHash(key, value)
    log.append(Jsonl.line("hash" -> h, "key" -> key, "value" -> value,
      "refType" -> refType, "refId" -> refId))
    bus.fire(RegistryEvents.MetadataStored(key, refType, refId, h))
    h
  }

  /** All items, latest-wins per (key, refType, refId), sorted. */
  def items: Seq[MetadataItem] = {
    val all = log.objects.flatMap { o =>
      def f(k: String) = Jsonl.text(o, k)
      for (h <- f("hash"); k <- f("key"); v <- f("value"); t <- f("refType"); i <- f("refId"))
        yield MetadataItem(h, k, v, t, i)
    }
    all.groupBy(m => (m.key, m.refType, m.refId)).map(_._2.last).toSeq
      .sortBy(m => (m.refType, m.refId, m.key))
  }

  /** Key-glob + optional reference filters (kiara's MetadataMatcher,
    * :203). */
  def find(keyGlob: String = "*", refType: Option[String] = None,
           refId: Option[String] = None): Seq[MetadataItem] =
    items.filter(m => DataRegistry.globMatch(keyGlob, m.key) &&
      refType.forall(_ == m.refType) && refId.forall(_ == m.refId))

  /** Items attached to one value/job. */
  def forRef(refType: String, refId: String): Seq[MetadataItem] =
    find(refType = Some(refType), refId = Some(refId))

  /** Retrieve by content hash (:233); latest surviving item wins. */
  def byHash(hash: String): Option[MetadataItem] = items.find(_.hash == hash)
}

object EnvironmentRegistry {
  /** A runtime-environment snapshot (kiara models/runtime_environment:
    * RuntimeEnvironment): ordered fields + the content id (cid) kiara
    * keys environments by (registries/environment/__init__.py:41
    * get_environment_for_cid). */
  final case class EnvSnapshot(cid: String, fields: Seq[(String, String)]) {
    def field(name: String): Option[String] = fields.find(_._1 == name).map(_._2)
  }

  /** Snapshot the running Spark/JVM/config environment — the provenance
    * fingerprint recorded with each job (kiara snapshots python/plugin
    * versions; the Spark twin is engine + JVM + the semantics-bearing
    * session confs). Deterministic field order so the cid is stable for
    * identical environments. */
  def snapshot(spark: org.apache.spark.sql.SparkSession): EnvSnapshot = {
    val conf = spark.conf
    val fields = Seq(
      "spark.version" -> spark.version,
      "scala.version" -> scala.util.Properties.versionNumberString,
      "java.version" -> System.getProperty("java.version"),
      "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.arch")}",
      "spark.master" -> spark.sparkContext.master,
      "spark.sql.shuffle.partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "spark.sql.ansi.enabled" -> conf.get("spark.sql.ansi.enabled", "true"),
      "spark.sql.adaptive.enabled" -> conf.get("spark.sql.adaptive.enabled", "true"))
    val md = java.security.MessageDigest.getInstance("MD5")
    val cid = md.digest(fields.map { case (k, v) => s"$k=$v" }
      .mkString(" ").getBytes("UTF-8")).map(b => f"$b%02x").mkString
    EnvSnapshot(cid, fields)
  }
}

/** Environment registry (kiara registries/environment/__init__.py:1-161):
  * runtime-environment snapshots stored once per distinct cid, so job
  * records can carry a provenance fingerprint by reference — a re-read
  * job on a fresh JVM still knows the Spark/JVM/config of the session
  * that RAN it. Append-only JSONL, idempotent per cid. */
class EnvironmentRegistry(root: String) {
  import EnvironmentRegistry._
  private val log = new RegistryFile.Log(Paths.get(s"$root/environments.jsonl"))
  Files.createDirectories(Paths.get(root))

  /** Store a snapshot (no-op if its cid is already recorded); returns
    * the cid. */
  def register(env: EnvSnapshot): String = synchronized {
    if (get(env.cid).isEmpty)
      log.append(Jsonl.line("cid" -> env.cid, "env" -> Jsonl.obj(env.fields: _*)))
    env.cid
  }

  def list: Seq[String] = log.objects.flatMap(Jsonl.text(_, "cid")).distinct

  /** Snapshot by cid (kiara get_environment_for_cid, :41); the `env`
    * object's string fields, in file order. */
  def get(cid: String): Option[EnvSnapshot] =
    log.objects.find(Jsonl.text(_, "cid").contains(cid))
      .map(o => EnvSnapshot(cid, Jsonl.textFields(o, "env")))
}
