package graft.mesh

import graft.core.changes._
import graft.core.graph.Dag
import graft.core.model._
import graft.core.yaml._

/** C8/C9 — the split planner (`storage/dbt_project_editors.py:171-290`):
  * moves the selected resources into a new subproject, applies boundary
  * governance (contracts + public access), rewrites refs on both sides of
  * the cut, and registers the cross-project dependency. Ordering matters:
  * later rewrites chain on earlier pending changes (SURVEY §7
  * "change chaining order-sensitivity").
  */
object SubprojectCreator {

  final case class ProjectCycle(msg: String) extends RuntimeException(msg)

  /** A9: boundary models of the subproject = interface nodes of the
    * test-free selected subgraph, restricted to parent-owned models
    * (`storage/dbt_project_editors.py:90-104`). */
  def boundaryModels(manifest: Manifest, selected: Set[String]): Set[String] =
    Dag.identifyInterface(Dag.cleanSubgraph(manifest.childMap),
      selected.filterNot(_.startsWith("test.")))
      .filter(_.startsWith("model."))
      .filter(id => manifest.nodes.get(id).exists(_.packageName == manifest.projectName))

  /** Full split plan. `contractFor` supplies contract patch data (from the
    * catalog / a materialized schema); `readFile` reads parent files. */
  def initialize(
      manifest: Manifest,
      cfg: ProjectConfig,
      subName: String,
      selected: Set[String],
      targetDir: String,
      readFile: String => String,
      contractFor: ModelNode => Option[YMap] = _ => None): ChangeSet = {

    // guard: two-sided frontier = illegal split (A5, main.py:250-255)
    if (Dag.createsCycle(manifest.parentMap, manifest.childMap, selected))
      throw ProjectCycle(
        s"splitting $subName would create a project dependency cycle: " +
          "the subproject both feeds and consumes the parent")

    val subDir = (p: String) => s"$targetDir/$p"
    // a parent properties file is parsed once however many entries move
    // out of it; a missing or unparseable file yields no entry
    val docs = scala.collection.mutable.HashMap.empty[String, YMap]
    def readNamedEntry(path: String, pluralKey: String, name: String): Option[YMap] =
      scala.util.Try(docs.getOrElseUpdate(path, Yaml.parseMap(readFile(path)))
        .named(pluralKey).get(name)).toOption.flatten
    val moved = selected.filter(id =>
      id.startsWith("model.") || id.startsWith("test.") || id.startsWith("seed."))

    // 1. scaffold + project file (C9: merge the parent config under the
    // new name, carrying vars/profile/require-dbt-version — the settings
    // the reference's serialization preserves from the starter merge,
    // `storage/dbt_project_editors.py:118-157`)
    val carried = Vector("profile", "vars", "require-dbt-version")
      .flatMap(k => cfg.raw.get(k).map(k -> _))
    val projYaml = YMap(Vector(
      "name" -> (YStr(subName): Y),
      "version" -> (YStr("1.0.0"): Y)) ++ carried ++ Vector(
      "model-paths" -> (YList.of(YStr("models")): Y),
      "macro-paths" -> (YList.of(YStr("macros")): Y),
      "seed-paths" -> (YList.of(YStr("seeds")): Y)))
    val scaffold = ChangeSet(Vector(
      DirectoryChange(Operation.Add, targetDir),
      FileChange(Operation.Add, subDir("dbt_project.yml"), Some(Yaml.dump(projYaml)))))

    // 2. per-resource move: code file + YAML entry
    val movedModels = moved.toSeq.sorted.flatMap(manifest.nodes.get)
    val fileMoves = movedModels.foldLeft(ChangeSet()) { (cs, m) =>
      val cs1 = cs + FileChange(Operation.Move, subDir(m.filePath), None, Some(m.filePath))
      m.patchPath.fold(cs1) { pp =>
        val entry = readNamedEntry(pp, "models", m.name)
        cs1 +
          ResourceChange(Operation.Remove, EntityType.Model, m.name, pp) +
          ResourceChange(Operation.Add, EntityType.Model, m.name, subDir(pp),
            entry.getOrElse(YMap.of("name" -> YStr(m.name))))
      }
    }

    // 2b. non-code resources move as YAML-entry Add+Remove pairs
    // (`move_resource_yml_entry`, dbt_project_editors.py:353-388). Source
    // moves are keyed by source_name: the Add payload is the source entry
    // carrying just the one table, merged under the stanza's tables list.
    // When the entry cannot be read (missing/unparseable file) the move is
    // skipped entirely — fabricating a stub would drop the source's
    // database/schema/loader config and plan a Remove against a file that
    // never held the entry (`move_resource_yml_entry` skips the same way).
    val sourceMoves = selected.filter(_.startsWith("source."))
      .toSeq.sorted.flatMap(manifest.sources.get).foldLeft(ChangeSet()) { (cs, src) =>
        // the source entry reduced to the one moving table
        // (`load_resource_yml`, dbt_project_editors.py:78-86)
        readNamedEntry(src.filePath, "sources", src.sourceName).map { stanza =>
          stanza.updated("tables", YList.of(stanza.named("tables")
            .getOrElse(src.name, YMap.of("name" -> YStr(src.name)))))
        }.fold(cs) { entry =>
          cs +
            ResourceChange(Operation.Add, EntityType.Source, src.name,
              subDir(src.filePath), entry, Some(src.sourceName)) +
            ResourceChange(Operation.Remove, EntityType.Source, src.name,
              src.filePath, sourceName = Some(src.sourceName))
        }
      }
    val exposureMoves = selected.filter(_.startsWith("exposure."))
      .toSeq.sorted.flatMap(manifest.exposures.get).foldLeft(ChangeSet()) { (cs, e) =>
        readNamedEntry(e.filePath, "exposures", e.name).fold(cs) { entry =>
          cs +
            ResourceChange(Operation.Add, EntityType.Exposure, e.name,
              subDir(e.filePath), entry) +
            ResourceChange(Operation.Remove, EntityType.Exposure, e.name, e.filePath)
        }
      }
    val semanticMoves = selected.filter(_.startsWith("semantic_model."))
      .toSeq.sorted.flatMap(manifest.semanticModels.get).foldLeft(ChangeSet()) { (cs, sm) =>
        readNamedEntry(sm.filePath, "semantic_models", sm.name).fold(cs) { entry =>
          cs +
            ResourceChange(Operation.Add, EntityType.SemanticModel, sm.name,
              subDir(sm.filePath), entry) +
            ResourceChange(Operation.Remove, EntityType.SemanticModel, sm.name, sm.filePath)
        }
      }
    val metricMoves = selected.filter(_.startsWith("metric."))
      .toSeq.sorted.flatMap(manifest.metrics.get).foldLeft(ChangeSet()) { (cs, met) =>
        readNamedEntry(met.filePath, "metrics", met.name).fold(cs) { entry =>
          cs +
            ResourceChange(Operation.Add, EntityType.Metric, met.name,
              subDir(met.filePath), entry) +
            ResourceChange(Operation.Remove, EntityType.Metric, met.name, met.filePath)
        }
      }

    // 3. macro closure (A10) + referenced docs (A11) move with the models.
    // When the macro's jinja block span is extractable, only THAT block is
    // appended to the subproject file (a shared macro file may carry
    // macros that stay behind — `copy_jinja_block`,
    // dbt_project_editors.py:242-248); whole-file copy is the fallback.
    val macroIds = Dag.macroClosure(manifest, moved)
    val macroMoves = macroIds.toSeq.sorted.flatMap(manifest.macros.get)
      .map { mc =>
        val block =
          try graft.core.parse.JinjaLite
            .findBlocks(readFile(mc.filePath), "macro").find(_.name == mc.name)
          catch { case _: Throwable => None }
        block match {
          case Some(b) =>
            FileChange(Operation.Append, subDir(mc.filePath), Some(b.content))
          case None =>
            FileChange(Operation.Copy, subDir(mc.filePath), None, Some(mc.filePath))
        }
      }
    val docIds = Dag.referencedDocs(manifest, moved,
      p => try Some(readFile(p)) catch { case _: Throwable => None })
    val docMoves = docIds.toSeq.sorted.flatMap(manifest.docs.get)
      .map(d => FileChange(Operation.Append, subDir(d.filePath), Some(d.blockContents)))

    // 3b. indirect group closure (A12): groups referenced by the moved
    // models COPY into the subproject (the parent keeps them — other
    // parent models may belong to the same group; `copy_resource_yml`)
    val groupIds = Dag.indirectGroups(manifest, moved)
    val groupMoves = groupIds.toSeq.sorted.flatMap(manifest.groups.get)
      .foldLeft(ChangeSet()) { (cs, g) =>
        readNamedEntry(g.filePath, "groups", g.name).fold(cs) { entry =>
          cs + ResourceChange(Operation.Add, EntityType.Group, g.name,
            subDir(g.filePath), entry)
        }
      }

    // 4. boundary governance on the subproject side: public + contract
    val boundary = boundaryModels(manifest, selected)
    val governance = boundary.toSeq.sorted.flatMap(manifest.nodes.get).foldLeft(ChangeSet()) {
      (cs, m) =>
        val patchPath = subDir(m.patchPath.getOrElse(PatchPaths.default(m)))
        val withAccess = cs + ResourceChange(Operation.Update, EntityType.Model,
          m.name, patchPath, YMap.of("access" -> YStr(AccessType.Public.name)))
        contractFor(m).fold(withAccess)(data =>
          withAccess + ResourceChange(Operation.Update, EntityType.Model, m.name,
            patchPath, data))
    }

    // 5. ref rewrites: children left behind (D7) + moved models' own refs
    // to parents left behind (D8) + macros (D10)
    // child rewrites stay at parent paths (those models don't move);
    // moved-model and macro rewrites land at their NEW subproject paths
    // (the reference resolves against the downstream project)
    val childRewrites = References.childRefUpdates(manifest, subName, moved, readFile)
    val parentRewrites = References.parentRefUpdates(manifest, cfg.name, moved,
      readFile, m => subDir(m.filePath))
    val leftBehindNames = moved.flatMap(manifest.parentMap.getOrElse(_, Set.empty))
      .filterNot(moved).flatMap(manifest.nodes.get).map(_.name)
    val macroRewrites = macroIds.toSeq.sorted.flatMap(manifest.macros.get)
      .flatMap(mc => References.macroRefUpdate(mc, cfg.name, leftBehindNames,
        readFile, Some(subDir(mc.filePath))))

    // 6. parent-side governance for upstream boundary models — frontier is
    // computed over the FULL selection (like the cycle guard): a selected
    // exposure/source must not read as a cross-boundary edge
    val upstreamBoundary = Dag.xprojParents(manifest.parentMap, selected)
      .filter(_.startsWith("model."))
    val parentGovernance = upstreamBoundary.toSeq.sorted.flatMap(manifest.nodes.get)
      .foldLeft(ChangeSet()) { (cs, m) =>
        val withAccess = cs + Grouper.accessChange(m, AccessType.Public, m.group)
        contractFor(m).fold(withAccess)(data =>
          withAccess + ResourceChange(
            if (m.patchPath.isDefined) Operation.Update else Operation.Add,
            EntityType.Model, m.name,
            m.patchPath.getOrElse(PatchPaths.default(m)), data))
      }

    // 7. packages.yml rides along so the subproject keeps its package
    // imports (`copy_packages_yml_file`, dbt_project_editors.py:158-169);
    // skipped when the parent has none
    val packagesCopy =
      if (scala.util.Try(readFile("packages.yml")).isSuccess)
        ChangeSet(Vector(FileChange(Operation.Copy, subDir("packages.yml"),
          None, Some("packages.yml"))))
      else ChangeSet()

    // 8. dependency registration: downstream side depends on upstream side
    val subIsUpstream = Dag.xprojChildren(manifest.childMap, selected).nonEmpty
    val depChange =
      if (subIsUpstream) Dependencies.addDependency(cfg.name, subName)
      else Dependencies.addDependency(subName, cfg.name, subDir("dependencies.yml"))

    scaffold ++ fileMoves ++ sourceMoves ++ exposureMoves ++ semanticMoves ++
      metricMoves ++
      ChangeSet(macroMoves.toVector) ++
      ChangeSet(docMoves.toVector) ++ groupMoves ++ governance ++ childRewrites ++
      parentRewrites ++ ChangeSet(macroRewrites.toVector) ++
      parentGovernance ++ packagesCopy ++ depChange
  }
}
