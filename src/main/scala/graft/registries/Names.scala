package graft.registries

/** THE identifier charset for every persisted name in the engine — value
  * ids, aliases, context names, workflow and step names, profiled column
  * names: `[A-Za-z0-9_.-]+`.
  *
  * Two persisted encodings are exact ONLY under this rule: the one step
  * codec `WorkflowRegistry.OpStep.encode`/`decode` (the `name:op:input`
  * records of workflows, pipelines and saved workflow states) and the
  * `key=value` tables read by `RegistryFile.Table.entries`; an archive
  * manifest's reader also drops ids and aliases outside it. Free text
  * (lineage step names, comments, mount paths, metadata values) goes
  * through the one JSON codec, `Jsonl`, instead. If the charset ever
  * needs to grow, widen it HERE and fix those readers in the same change
  * — a per-site edit silently corrupts the others.
  */
object Names {
  /** The allowed charset, as a full-match regex (no anchors needed for
    * String.matches). */
  val Pattern = "[A-Za-z0-9_.-]+"

  def isValid(s: String): Boolean =
    s.matches(Pattern) && s != "." && s != ".."

  /** Validate-and-return; `kind` names the identifier in the error. */
  def validate(kind: String, s: String): String = {
    require(isValid(s), s"bad $kind: $s (allowed: $Pattern, not '.' or '..')")
    s
  }
}
