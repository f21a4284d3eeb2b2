package graft.mesh

import graft.core.changes._
import graft.core.model._
import graft.core.yaml._

/** B1–B6 — cross-project linking (`utilities/linker.py`). Projects are
  * joined on lower-cased relation names (the metagraph equi-join, A13/B1).
  * At driver scale these are set intersections; GraphOps.g-queries carry
  * the DataFrame join form for meshes beyond one driver.
  */
object Linker {

  sealed abstract class DependencyType(val name: String)
  object DependencyType {
    case object Source extends DependencyType("source")
    case object Package extends DependencyType("package")
  }

  /** upstream/downstream are unique ids in their own manifests; hashable
    * identity is (upstream, downstream, type) (`utilities/linker.py:33-42`). */
  final case class ProjectDependency(
      upstreamResource: String, upstreamProject: String,
      downstreamResource: String, downstreamProject: String,
      depType: DependencyType)

  /** B1: the core equi-join of the metagraph. */
  def relationIntersection(a: Manifest, b: Manifest): Set[String] =
    a.modelRelations intersect (b.modelRelations ++ b.sourceRelations)

  /** B2: model relations of A that appear as *sources* in B (and the
    * mirrored direction) → Source-type dependencies
    * (`utilities/linker.py:62-122`). */
  /** The project to credit as a dependency's upstream: the model's OWNING
    * package when the matched manifest merely installs it — a
    * multi-project sweep can match an installed copy first, and the
    * rewrite must name the project that actually defines the model (the
    * reference leaves this to arbitrary set-dedup order across pairs). */
  private def owningProject(up: Manifest, upId: String): String =
    up.nodes.get(upId).map(_.packageName).getOrElse(up.projectName)

  def sourceDependencies(a: Manifest, b: Manifest): Set[ProjectDependency] = {
    def oneWay(up: Manifest, down: Manifest): Set[ProjectDependency] = {
      val shared = up.modelRelations intersect down.sourceRelations
      shared.flatMap { rel =>
        for {
          upId <- up.relationIndex.get(rel)
          downId <- down.sources.values.find(_.relationName.exists(_.toLowerCase == rel)).map(_.uniqueId)
        } yield ProjectDependency(upId, owningProject(up, upId), downId,
          down.projectName, DependencyType.Source)
      }
    }
    oneWay(a, b) ++ oneWay(b, a)
  }

  /** B3: if either project imports the other as a package, intersect model
    * relations and fan out to each downstream child
    * (`utilities/linker.py:124-198`). `installs` must be supplied by the
    * caller (packages.yml inspection). */
  def packageDependencies(up: Manifest, down: Manifest): Set[ProjectDependency] = {
    val shared = up.modelRelations intersect down.modelRelations
    shared.flatMap { rel =>
      up.relationIndex.get(rel).toSet[String].flatMap { upId =>
        down.relationIndex.get(rel).toSet[String].flatMap { proxyId =>
          down.childMap.getOrElse(proxyId, Set.empty).map { childId =>
            ProjectDependency(upId, owningProject(up, upId), childId,
              down.projectName, DependencyType.Package)
          }
        }
      }
    }
  }

  /** B4: pairwise sweep with dedup on (up, down, type). */
  def dependencies(projects: Seq[(Manifest, Boolean)]): Set[ProjectDependency] = {
    val pairs = projects.combinations(2).toSeq
    pairs.flatMap { case Seq((a, aInstallsB), (b, bInstallsA)) =>
      sourceDependencies(a, b) ++
        (if (bInstallsA) packageDependencies(a, b) else Set.empty) ++
        (if (aInstallsB) packageDependencies(b, a) else Set.empty)
    case _ => Set.empty
    }.toSet
  }

  /** B5: resolve one dependency into changes
    * (`utilities/linker.py:233-349`): make the upstream model public (C2)
    * + contracted (C1, via the caller-provided contract data); for
    * Source-type, rewrite the downstream's `source()` to a cross-project
    * `ref()` (D2/D9) in every child of the source and delete the source
    * stanza; finally register the dependency (C7). */
  def resolveDependency(dep: ProjectDependency, up: Manifest, down: Manifest,
      contractData: Option[YMap], readFile: (String, String) => String,
      pending: ChangeSet = ChangeSet()): ChangeSet = {
    val upModel = up.nodes(dep.upstreamResource)
    // upstream: public access (+ contract if provided)
    val cs0 = ChangeSet() + Grouper.accessChange(upModel, AccessType.Public, upModel.group)
    val cs1 = contractData.fold(cs0) { data =>
      cs0 + ResourceChange(
        if (upModel.patchPath.isDefined) Operation.Update else Operation.Add,
        EntityType.Model, upModel.name,
        upModel.patchPath.getOrElse(PatchPaths.default(upModel)), data)
    }
    val cs2 = dep.depType match {
      case DependencyType.Source =>
        val src = down.sources(dep.downstreamResource)
        val children = down.childMap.getOrElse(src.uniqueId, Set.empty)
        val rewritten = children.toSeq.sorted.flatMap(down.nodes.get).foldLeft(cs1) {
          (cs, child) =>
            val code = References.currentCode(pending ++ cs, child.filePath,
              p => readFile(down.projectName, p))
            val updated = References.updateSourceToRef(code,
              graft.core.parse.JinjaLite.Framing.of(child.language),
              src.sourceName, src.name, up.projectName, upModel.name)
            cs + FileChange(Operation.Update, child.filePath, Some(updated))
        }
        rewritten + ResourceChange(Operation.Remove, EntityType.Source, src.name,
          src.filePath, sourceName = Some(src.sourceName))
      case DependencyType.Package =>
        down.nodes.get(dep.downstreamResource).fold(cs1) { child =>
          val code = References.currentCode(pending ++ cs1, child.filePath,
            p => readFile(down.projectName, p))
          cs1 + References.generateReferenceUpdate(up.projectName, upModel, child, code)
        }
    }
    cs2 ++ Dependencies.addDependency(down.projectName, up.projectName)
  }
}
