package graft

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame

import graft.plans.{OpRegistry, Pipeline}
import graft.registries.{Jsonl, Names, RegistryFile, WorkflowRegistry}

/** Interactive, stateful workflow session — the twin of kiara's
  * `Workflow` class (interfaces/python_api/workflow.py:144), the layer
  * ABOVE the static workflow registry: a pipeline is BUILT incrementally
  * (`addStep`), its inputs are set and re-set field by field
  * (`setInput`, returning the changed ref exactly like the reference
  * returns the new value id or None), processing is explicit and
  * invalidated by any mutation, and every interesting configuration can
  * be SNAPSHOTTED (workflow.py:1277): state identity is content-derived
  * from (steps, inputs) — the same configuration always hashes to the
  * same state id — and saved snapshots append to a JSONL history under
  * the context root, so `loadState` time-travels within the session AND
  * a fresh JVM can reload any persisted state (workflow.py:1164
  * load_state: no id → the latest SAVED state).
  *
  * Spark-native shape: nothing here touches data until `process()`,
  * which topologically runs the accumulated steps through
  * [[graft.plans.Pipeline]] — one fused Catalyst plan per process call,
  * recorded in lineage under a per-session run id like workflow-registry
  * runs. Snapshots persist REFERENCES (op names + value refs), never
  * data — the data registry already owns the values.
  */
object WorkflowSession {
  // workflow_states.jsonl is shared by EVERY session on the same context
  // root; its Log's per-path lock serializes their appends (ADVICE r12)
  private def stateLog(root: String) =
    new RegistryFile.Log(Paths.get(s"$root/workflow_states.jsonl"))

  /** Saved state ids of one workflow, in log order — the info surfaces'
    * snapshot census, readable WITHOUT constructing a session (a closure
    * workflow has no rebuildable session, but its history may exist). */
  private[graft] def savedStatesFor(root: String, name: String): Seq[String] =
    savedStates(root, name).map(_._1)

  /** Saved (state id, steps, inputs) of one workflow, in log order. A
    * line the writer in `snapshot` could never have produced — torn,
    * interleaved, hand-edited — means the log is corrupted: FAIL, don't
    * silently drop history (ADVICE r12). */
  private def savedStates(root: String, name: String)
      : Seq[(String, (Vector[WorkflowRegistry.OpStep], Map[String, String]))] =
    stateLog(root).lines.flatMap { l =>
      val o = Jsonl.readObject(l)
      def field(k: String): String = o.flatMap(Jsonl.text(_, k)).getOrElse(
        throw new IllegalStateException(
          s"corrupt workflow state log $root/workflow_states.jsonl: unparseable line: $l"))
      val (wf, id, st, in) = (field("workflow"), field("state_id"), field("steps"), field("inputs"))
      if (wf != name) None
      else Some(id -> ((WorkflowRegistry.OpStep.decode(st),
        in.split(',').filter(_.nonEmpty).map { kv =>
          val i = kv.indexOf('='); kv.substring(0, i) -> kv.substring(i + 1)
        }.toMap)))
    }
}

final class WorkflowSession private[graft] (api: GraftApi, val name: String,
                                            contextRoot: String) {
  import WorkflowRegistry.OpStep

  Names.validate("workflow session name", name)

  private var steps = Vector.empty[OpStep]
  private var inputRefs = Map.empty[String, String]
  private var outputs: Option[Pipeline.Result] = None
  // in-memory state cache: stateId -> (steps, inputs); insertion-ordered
  // history like the reference's workflow_history
  private val stateCache =
    scala.collection.mutable.LinkedHashMap[String, (Vector[OpStep], Map[String, String])]()

  private val stateLog = WorkflowSession.stateLog(contextRoot)

  /** Add one step (workflow.py:939 add_step): `op` must already be a
    * registered operation; the step consumes pipeline input(s) or prior
    * step outputs — a binary operation takes two '+'-joined names
    * (kiara's connect_steps wiring, workflow.py:1044). Any cached
    * processing is invalidated. */
  def addStep(stepName: String, op: String, input: String): this.type = {
    Names.validate("step name", stepName)
    // the ':'-delimited state log and the registry's step records are
    // exact only under the shared charset — ops included
    Names.validate("operation name", op)
    require(OpRegistry.contains(op), s"unknown operation: $op")
    // -1: a trailing/leading/doubled '+' must be an empty part, not
    // silently dropped — "a+" is malformed, not a unary input
    val parts = OpStep.inputs(input)
    require(parts.forall(_.nonEmpty), s"malformed step input: '$input'")
    parts.foreach(Names.validate("step input", _))
    require(parts.length == OpRegistry.arity(op),
      s"operation '$op' takes ${OpRegistry.arity(op)} input(s), got '$input'")
    require(!steps.exists(_.name == stepName), s"duplicate step name: $stepName")
    steps :+= OpStep(stepName, op, input)
    outputs = None
    this
  }

  /** Remove the named steps, or ALL steps when none are named
    * (workflow.py:886 clear_steps — load_state uses the clear-all form). */
  def clearSteps(stepIds: String*): this.type = {
    steps = if (stepIds.isEmpty) Vector.empty
      else steps.filterNot(s => stepIds.contains(s.name))
    outputs = None
    this
  }

  /** The pipeline's FREE inputs: consumed by a step, produced by none. */
  def currentInputNames: Seq[String] = {
    val produced = steps.map(_.name).toSet
    steps.flatMap(s => OpStep.inputs(s.input)).filter(_.nonEmpty)
      .distinct.filterNot(produced).sorted
  }

  // user-facing field aliases (workflow.py:895 set_input_alias / :910
  // set_output_alias): presentation names for pipeline fields —
  // set_inputs translates them back before matching, exactly like the
  // reference's _workflow_input_aliases loop
  private var inputAliases = Map.empty[String, String]  // field -> alias
  private var outputAliases = Map.empty[String, String] // step  -> alias

  /** Alias a pipeline input field (workflow.py:895): `setInput` then
    * accepts the alias in place of the field name. */
  def setInputAlias(field: String, alias: String): this.type = {
    require(currentInputNames.contains(field),
      s"can't alias unknown input field: $field. " +
        s"Available inputs: ${currentInputNames.mkString(", ")}")
    Names.validate("input alias", alias)
    // setInput resolves aliases BEFORE field names, so an alias equal to
    // another real input field would silently shadow that field (and an
    // alias already pointing elsewhere would be hijacked) — refuse both
    require(!currentInputNames.contains(alias) || alias == field,
      s"input alias '$alias' collides with a real input field")
    require(!inputAliases.exists { case (f, a) => a == alias && f != field },
      s"input alias '$alias' is already bound to another field")
    inputAliases += field -> alias
    this
  }

  /** Alias a step's output (workflow.py:910): `currentOutputs` exposes
    * the step under the alias as well. */
  def setOutputAlias(step: String, alias: String): this.type = {
    require(steps.exists(_.name == step), s"can't alias unknown step: $step")
    Names.validate("output alias", alias)
    outputAliases += step -> alias
    this
  }

  /** Set one pipeline input to a value reference (registry id or alias).
    * Returns the ref if this CHANGED the field, None if it was already
    * set to the same ref — the reference's set_input contract
    * (workflow.py:705: value id for a new value, None for no change).
    * Field aliases translate back first (the reference's set_inputs
    * loop); unknown fields are refused with the available inputs named. */
  def setInput(field: String, ref: String): Option[String] = {
    val resolved = inputAliases.collectFirst {
      case (f, a) if a == field => f
    }.getOrElse(field)
    val avail = currentInputNames
    require(avail.contains(resolved),
      s"can't set workflow input, invalid field: $field. " +
        s"Available inputs: ${avail.mkString(", ")}")
    Names.validate("input ref", ref)
    if (inputRefs.get(resolved).contains(ref)) None
    else {
      inputRefs += resolved -> ref
      outputs = None
      Some(ref)
    }
  }

  def currentInputs: Map[String, String] = inputRefs

  /** Run every step over the currently-set inputs (workflow.py:660
    * process_steps): loads each input ref from the data registry,
    * executes the accumulated DAG as ONE Catalyst-fused pipeline,
    * records lineage under this session's run id, caches the outputs. */
  def process(): Pipeline.Result = {
    val missing = currentInputNames.filterNot(inputRefs.contains)
    require(missing.isEmpty,
      s"can't process workflow '$name', inputs not set: ${missing.mkString(", ")}")
    val loaded = inputRefs.map { case (f, ref) => f -> api.getValue(ref) }
    val pSteps = steps.map(st => OpRegistry.step(st.name, st.op, st.input))
    // from the root's one run-id sequence: a rebuilt session (getWorkflow
    // on a fresh instance) never re-issues an id already in the log
    val runId = s"wfs-$name-${api.lineage.nextRun()}"
    val res = Pipeline.run(pSteps, loaded)
    api.lineage.recordRun(runId, res.lineage)
    outputs = Some(res)
    res
  }

  /** Step-output values of the last `process()` (workflow.py:557
    * current_output_values); empty before the first process or after
    * any invalidating mutation. Aliased steps appear under BOTH names. */
  def currentOutputs: Map[String, DataFrame] =
    outputs.map { r =>
      val base = steps.map(s => s.name -> r.values(s.name)).toMap
      base ++ outputAliases.collect {
        case (step, alias) if base.contains(step) => alias -> base(step)
      }
    }.getOrElse(Map.empty)

  /** Content-derived state id over (steps, inputs) — the same
    * configuration always hashes identically (the reference's
    * WorkflowState.instance_id is likewise a cid over its fields). */
  def stateId: String = {
    val canon = OpStep.encode(steps) +
      "|" + inputRefs.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")
    java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString
  }

  /** Snapshot the current configuration (workflow.py:1277): caches it in
    * the session history; `save = true` additionally appends it to the
    * context root's state log so a fresh JVM can reload it. */
  def snapshot(save: Boolean = false): String = {
    val id = stateId
    stateCache.put(id, (steps, inputRefs))
    if (save)
      stateLog.append(Jsonl.line("workflow" -> name, "state_id" -> id,
        "steps" -> OpStep.encode(steps),
        "inputs" -> inputRefs.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")))
    id
  }

  private def persistedStates: Seq[(String, (Vector[OpStep], Map[String, String]))] =
    WorkflowSession.savedStates(contextRoot, name)

  /** All known state ids — session cache plus the persisted log, sorted
    * (workflow.py:1227 all_state_ids). */
  def allStateIds: Seq[String] =
    (stateCache.keys ++ persistedStates.map(_._1)).toSeq.distinct.sorted

  /** Restore a past configuration (workflow.py:1164 load_state): by id
    * from the session cache or the persisted log; with no id, the
    * LATEST SAVED state. Returns the restored id, or None when nothing
    * has been saved yet. Outputs are invalidated — process() re-runs. */
  def loadState(id: Option[String] = None): Option[String] = {
    val target: Option[(String, (Vector[OpStep], Map[String, String]))] = id match {
      case Some(sid) =>
        stateCache.get(sid).map(sid -> _)
          .orElse(persistedStates.reverse.collectFirst { case p if p._1 == sid => p })
          .orElse(throw new NoSuchElementException(
            s"no state '$sid' for workflow '$name'; known: ${allStateIds.mkString(", ")}"))
      case None => persistedStates.lastOption
    }
    target.map { case (sid, (st, in)) =>
      steps = st
      inputRefs = in
      outputs = None
      stateCache.put(sid, (st, in))
      sid
    }
  }

  /** Persist the CURRENT step list as a named registry workflow
    * (workflow.py:1266 save): the session's DAG becomes a durable,
    * re-runnable pipeline under `name` and every extra alias. */
  def save(aliases: String*): Unit = {
    require(steps.nonEmpty, s"workflow '$name' has no steps to save")
    (name +: aliases).foreach(a => api.workflows.registerOps(a, steps))
  }

  def describe: Seq[OpStep] = steps
}
