package graft.mesh

import graft.core.changes._
import graft.core.model._
import graft.core.parse.JinjaLite
import graft.core.parse.JinjaLite.{CallTarget, Framing, RefCall, SourceCall}
import graft.core.yaml.{YList, YMap, YStr}

/** Code-rewrite passes (SURVEY §2.D) over model code and YAML ref
  * strings (`utilities/references.py:58-171`). Every pass is a
  * [[JinjaLite.rewrite]] in the text's framing, so it sees exactly the
  * calls the loader and the renderer see.
  */
object References {

  /** Replace each call `to` maps with the ref it maps to, printed in
    * the call's own framing (`{{ }}`, bare in a tag or YAML, `dbt.`). */
  private def retarget(code: String, framing: Framing)(
      to: PartialFunction[CallTarget, RefCall]): String =
    JinjaLite.rewrite(code, framing)(c => to.lift(c.target).map(JinjaLite.print(_, c.framing)))

  /** D1/D3/D5a: each project-local `ref('m'[, v=n])` → `ref('proj', 'm'[, v=n])`. */
  def updateRefs(code: String, framing: Framing, model: String, project: String): String =
    retarget(code, framing) {
      case r @ RefCall(None, `model`, _) => r.copy(project = Some(project)) }

  /** D2/D4: `source('src', 'tbl')` → `ref('proj', 'model')`. */
  def updateSourceToRef(code: String, framing: Framing, sourceName: String,
      table: String, project: String, model: String): String =
    retarget(code, framing) {
      case SourceCall(`sourceName`, `table`) => RefCall(Some(project), model, None) }

  def updateSqlRefs(code: String, model: String, project: String): String =
    updateRefs(code, Framing.Sql, model, project)
  def updatePythonRefs(code: String, model: String, project: String): String =
    updateRefs(code, Framing.Python, model, project)
  def updateSqlSourceToRef(code: String, sourceName: String, table: String,
      project: String, model: String): String =
    updateSourceToRef(code, Framing.Sql, sourceName, table, project, model)
  def updatePythonSourceToRef(code: String, sourceName: String, table: String,
      project: String, model: String): String =
    updateSourceToRef(code, Framing.Python, sourceName, table, project, model)

  /** D6: dispatch by language (`utilities/references.py:173-213`),
    * threading any pending FileChange for the same file (D7/D8 chaining,
    * `utilities/references.py:24-42`). */
  def generateReferenceUpdate(project: String, upstream: ModelNode,
      downstream: Resource, codeNow: String): FileChange = {
    val framing = Framing.of(downstream match { case m: ModelNode => m.language; case _ => "sql" })
    FileChange(Operation.Update, downstream.filePath,
      Some(updateRefs(codeNow, framing, upstream.name, project)))
  }

  /** current text of a resource's code file: the latest pending change in
    * `pending` wins over `readFile` (compose-over-unwritten-state). */
  def currentCode(pending: ChangeSet, path: String, readFile: String => String): String =
    pending.latestFileChange(path).flatMap(_.data).getOrElse(readFile(path))

  /** D7: for each out-of-subproject child of the moved models, rewrite its
    * refs to cross-project form (`utilities/references.py:261-308`). */
  def childRefUpdates(manifest: Manifest, subProject: String, moved: Set[String],
      readFile: String => String): ChangeSet = {
    val movedModels = moved.flatMap(manifest.nodes.get)
    movedModels.foldLeft(ChangeSet()) { case (acc, up) =>
      val children = manifest.childMap.getOrElse(up.uniqueId, Set.empty)
        .filterNot(moved).filterNot(_.startsWith("test."))
      children.toSeq.sorted.flatMap(manifest.allResources.get).foldLeft(acc) {
        case (cs, child: ModelNode) =>
          val code = currentCode(cs, child.filePath, readFile)
          cs + generateReferenceUpdate(subProject, up, child, code)
        case (cs, child: Exposure) =>
          // REBUILD the list like update_yml_resource_references
          // (references.py:150-171): normalize every ref string, drop the
          // one matching the moved model, append the cross-project ref
          val kept = child.refStrings.flatMap(JinjaLite.refs(_, Framing.Bare).headOption)
            .filterNot(_ == RefCall(None, up.name, None))
          val newRefs = (kept :+ RefCall(Some(subProject), up.name, None))
            .map(JinjaLite.print(_, Framing.Bare))
          cs + ResourceChange(Operation.Update, EntityType.Exposure, child.name,
            child.filePath, YMap.of("depends_on" -> YList(newRefs.map(YStr(_)))))
        case (cs, child: SemanticModel) =>
          cs + ResourceChange(Operation.Update, EntityType.SemanticModel, child.name,
            child.filePath, YMap.of("model" -> YStr(
              // YAML ref strings are bare `ref('m')` and stay bare
              updateRefs(child.modelRef, Framing.Bare, up.name, subProject))))
        case (cs, _) => cs
      }
    }
  }

  /** D8: moved models that depend on models left behind rewrite their own
    * refs to the parent project (`utilities/references.py:310-360`).
    * `pathFor` maps a moved model to the path the rewrite is WRITTEN to —
    * the subproject location after the move (the reference resolves paths
    * against the downstream project, `references.py:192-196`); the code is
    * still READ from the original parent path. */
  def parentRefUpdates(manifest: Manifest, parentProject: String, moved: Set[String],
      readFile: String => String,
      pathFor: ModelNode => String = _.filePath): ChangeSet = {
    val leftBehind = moved.flatMap(manifest.parentMap.getOrElse(_, Set.empty))
      .filterNot(moved).flatMap(manifest.nodes.get)
    moved.toSeq.sorted.flatMap(manifest.nodes.get).foldLeft(ChangeSet()) { case (acc, m) =>
      val ups = leftBehind.filter(u => m.dependsOn.nodes.contains(u.uniqueId))
      if (ups.isEmpty) acc
      else {
        val target = pathFor(m)
        val code0 = acc.latestFileChange(target).flatMap(_.data)
          .getOrElse(readFile(m.filePath))
        val updated = ups.foldLeft(code0)((c, u) =>
          updateRefs(c, Framing.of(m.language), u.name, parentProject))
        acc + FileChange(Operation.Update, target, Some(updated))
      }
    }
  }

  /** D10: first ref() in macro SQL — if it targets a model left behind in
    * the parent, rewrite to cross-project form
    * (`utilities/references.py:215-259`). `targetPath` is where the
    * rewritten macro is written (the subproject copy). */
  def macroRefUpdate(macroNode: MacroNode, parentProject: String,
      leftBehindModels: Set[String], readFile: String => String,
      targetPath: Option[String] = None): Option[FileChange] = {
    val text = readFile(macroNode.filePath)
    // operate on THIS macro's block (the file may hold several macros —
    // the reference rewrites resource.macro_sql, not the file)
    val block = JinjaLite.findBlocks(text, "macro")
      .find(_.name == macroNode.name).map(_.content).getOrElse(text)
    JinjaLite.findRefs(block).headOption
      .filter(r => r.project.isEmpty && leftBehindModels.contains(r.name))
      .map(r => FileChange(Operation.Update, targetPath.getOrElse(macroNode.filePath),
        Some(updateSqlRefs(block, r.name, parentProject))))
  }
}
