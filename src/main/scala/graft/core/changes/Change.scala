package graft.core.changes

import graft.core.yaml.YMap

/** The ChangeSet IR — the sole output of every mesh command
  * (`change.py:8-54,57-149`). Commands are pure planners returning
  * ChangeSets; execution is a separate phase (dry-run prints the plan).
  */
sealed abstract class Operation(val verb: String)
object Operation {
  case object Add extends Operation("Add")
  case object Append extends Operation("Append")
  case object Update extends Operation("Update")
  case object Remove extends Operation("Remove")
  case object Copy extends Operation("Copy")
  case object Move extends Operation("Move")
}

/** Entity taxonomy (`change.py:29-54`). YAML-backed kinds carry the
  * plural key they live under in a properties file. */
sealed abstract class EntityType(val name: String, val pluralKey: Option[String])
object EntityType {
  case object Model extends EntityType("model", Some("models"))
  case object Source extends EntityType("source", Some("sources"))
  case object Exposure extends EntityType("exposure", Some("exposures"))
  case object Metric extends EntityType("metric", Some("metrics"))
  case object Group extends EntityType("group", Some("groups"))
  case object SemanticModel extends EntityType("semantic_model", Some("semantic_models"))
  case object Seed extends EntityType("seed", Some("seeds"))
  case object Snapshot extends EntityType("snapshot", Some("snapshots"))
  case object Test extends EntityType("test", None)
  case object Macro extends EntityType("macro", None)
  case object Doc extends EntityType("doc", None)
  /** dependencies.yml entries live under `projects:` */
  case object Project extends EntityType("project", Some("projects"))
}

sealed trait Change {
  def op: Operation
  def path: String
  def describe: String
}

/** A keyed-YAML edit: merge/remove `data` for entry `identifier` under
  * the entity's plural key in the properties file at `path`.
  * `sourceName` scopes nested source-table entries. */
final case class ResourceChange(
    op: Operation,
    entityType: EntityType,
    identifier: String,
    path: String,
    data: YMap = YMap.empty,
    sourceName: Option[String] = None) extends Change {
  def describe = s"${op.verb} ${entityType.name} `$identifier` in $path"
}

/** A raw file operation; `data` is full text (Add/Update/Append),
  * `source` a path to copy/move from. */
final case class FileChange(
    op: Operation,
    path: String,
    data: Option[String] = None,
    source: Option[String] = None) extends Change {
  def describe = s"${op.verb} file $path"
}

/** Creates the directory at `path`; Add is the only directory op. */
final case class DirectoryChange(op: Operation, path: String) extends Change {
  def describe = s"${op.verb} directory $path"
}

final case class ChangeSet(changes: Vector[Change] = Vector.empty) {
  def +(c: Change): ChangeSet = ChangeSet(changes :+ c)
  def ++(cs: ChangeSet): ChangeSet = ChangeSet(changes ++ cs.changes)
  def isEmpty: Boolean = changes.isEmpty

  /** Latest pending FileChange for a path — rewrites compose over
    * unwritten state (`utilities/references.py:24-42`). */
  def latestFileChange(path: String): Option[FileChange] =
    changes.reverse.collectFirst { case fc: FileChange if fc.path == path => fc }
}
