package graft.mesh

import graft.core.changes._
import graft.core.model._
import graft.core.yaml._
import org.apache.spark.sql.SparkSession

/** Command orchestration (SURVEY §3.2): compositions of the planners that
  * the reference wires at the CLI layer. */
object Commands {

  /** The `split` command (§3.1, `main.py:213-265`): selection → cycle
    * guard → subproject plan, with boundary contracts generated from the
    * models' materialized Spark schemas (the reference's catalog lookup;
    * here `spark.table(viewName)` is the catalog). Models without a
    * materialized view simply get no contract (same as a catalog miss). */
  def split(
      spark: SparkSession,
      manifest: Manifest,
      cfg: ProjectConfig,
      subName: String,
      select: Seq[String],
      targetDir: String,
      readFile: String => String,
      viewName: String => String): ChangeSet = {
    val selected = graft.core.graph.Selector.select(manifest, select)
    val contractFor: ModelNode => Option[YMap] = m =>
      try {
        val schema = spark.table(viewName(m.name)).schema
        Some(graft.core.catalog.Contracts.contractPatch(schema))
      } catch { case _: Throwable => None }
    SubprojectCreator.initialize(manifest, cfg, subName, selected, targetDir,
      readFile, contractFor)
  }

  /** Manifest that carries the dependency's upstream model: the owning
    * project when loaded, else any loaded manifest that installed it. */
  private def upManifest(projects: Seq[Manifest],
      byName: Map[String, Manifest],
      dep: Linker.ProjectDependency): Manifest =
    byName.get(dep.upstreamProject)
      .orElse(projects.find(_.nodes.contains(dep.upstreamResource)))
      .getOrElse(sys.error(
        s"no loaded project carries ${dep.upstreamResource}"))

  /** The `connect` command (§3.3, `main.py:121-210`): sweep every project
    * pair for source-hack/package dependencies (deduped), then resolve
    * each into governance + rewrite changes, with the plan split per
    * project root: the upstream gets its model governance patches
    * (access/contract); the downstream gets the rewrites, source
    * removals, and dependencies.yml registration — each side's ChangeSet
    * executes against its own project directory. `installs(a, b)`
    * answers "does a install b as a package" (packages.yml inspection). */
  def connectPlans(
      projects: Seq[Manifest],
      installs: (String, String) => Boolean,
      contractData: Linker.ProjectDependency => Option[YMap],
      readFile: (String, String) => String): Map[String, ChangeSet] = {
    val byName = projects.map(m => m.projectName -> m).toMap
    val deps: Set[Linker.ProjectDependency] =
      projects.combinations(2).flatMap { case Seq(a, b) =>
        Linker.sourceDependencies(a, b) ++
          (if (installs(b.projectName, a.projectName))
            Linker.packageDependencies(a, b) else Set.empty) ++
          (if (installs(a.projectName, b.projectName))
            Linker.packageDependencies(b, a) else Set.empty)
      }.toSet
    deps.toSeq.sortBy(d => (d.upstreamProject, d.downstreamProject, d.upstreamResource))
      .foldLeft(Map.empty[String, ChangeSet].withDefaultValue(ChangeSet())) { (acc, dep) =>
        val cs = Linker.resolveDependency(dep,
          upManifest(projects, byName, dep), byName(dep.downstreamProject),
          contractData(dep), readFile,
          pending = acc(dep.downstreamProject))
        val (upChanges, downChanges) = cs.changes.partition {
          case rc: ResourceChange => rc.entityType == EntityType.Model
          case _ => false
        }
        acc
          .updated(dep.upstreamProject,
            acc(dep.upstreamProject) ++ ChangeSet(upChanges))
          .updated(dep.downstreamProject,
            acc(dep.downstreamProject) ++ ChangeSet(downChanges))
      }
  }

  /** The `group` command (`main.py:632-687`): create-group, then contract
    * every model whose PLANNED access is non-private. The contract target
    * set is derived from the just-planned (unwritten) changes — plans
    * compose over pending state, the reference's "rock and a hard place"
    * workaround (`main.py:665-685`). */
  def group(
      spark: SparkSession,
      manifest: Manifest,
      groupName: String,
      owner: Owner,
      selected: Set[String],
      groupYamlPath: String,
      viewName: String => String,
      readFile: String => Option[String] = _ => None): ChangeSet = {
    val groupChanges = Grouper.addGroup(manifest, groupName, owner, selected, groupYamlPath)

    // re-derive the contract targets from the planned access patches
    val contractTargets = groupChanges.changes.collect {
      case rc: ResourceChange
        if rc.entityType == EntityType.Model &&
          rc.data.get("access").exists(_.asStr != AccessType.Private.name) =>
        rc.identifier
    }
    val contracts = contractTargets.sorted.flatMap { name =>
      manifest.nodes.values.find(_.name == name).map { m =>
        val existing = m.patchPath.flatMap(readFile).map { text =>
          Yaml.parseMap(text).get("models").collect {
            case YList(ms) => ms.collectFirst {
              case e: YMap if e.get("name").exists(_.asStr == name) => e
            }
          }.flatten.getOrElse(YMap.empty)
        }.getOrElse(YMap.empty)
        Contractor.generateContract(spark, m, viewName(m.name), existing)
      }
    }
    groupChanges ++ ChangeSet(contracts.toVector)
  }
}
