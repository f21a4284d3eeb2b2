package graft.core.model

import graft.core.yaml.{Y, YMap}
import org.apache.spark.sql.types.StructType

/** Manifest resource model (SURVEY.md §1.1).
  *
  * Mirrors the reference's typed resource graph — dbt-core's Manifest as
  * consumed by dbt-meshify (`dbt_projects.py:9-24`) — as plain Scala ADTs.
  * Metadata stays on the driver: even a 100k-model mesh is a few hundred
  * MB of strings, and every access pattern is point lookup / graph walk,
  * not scan, so a DataFrame would be the wrong representation.
  */
sealed abstract class AccessType(val name: String)
object AccessType {
  case object Private extends AccessType("private")
  case object Protected extends AccessType("protected")
  case object Public extends AccessType("public")
  def parse(s: String): AccessType = s.toLowerCase match {
    case "private" => Private
    case "protected" => Protected
    case "public" => Public
    case other => throw new IllegalArgumentException(s"unknown access: $other")
  }
}

/** Group owner; `extra` carries arbitrary additional owner properties
  * (the reference's `--owner-properties` YAML, Owner._extra). */
final case class Owner(
    name: Option[String] = None,
    email: Option[String] = None,
    extra: Vector[(String, Y)] = Vector.empty)

final case class DependsOn(
    nodes: Vector[String] = Vector.empty,
    macros: Vector[String] = Vector.empty)

sealed trait Resource {
  def uniqueId: String
  def name: String
  def packageName: String
  /** path of the code file (or defining YAML) relative to project root. */
  def filePath: String
}

final case class ModelNode(
    uniqueId: String,
    name: String,
    packageName: String,
    filePath: String,
    rawCode: String,
    language: String = "sql", // "sql" | "python"
    dependsOn: DependsOn = DependsOn(),
    /** YAML properties-file path carrying this model's patch, if any. */
    patchPath: Option[String] = None,
    access: AccessType = AccessType.Protected,
    group: Option[String] = None,
    version: Option[Long] = None,
    latestVersion: Option[Long] = None,
    /** materialization: view | table | incremental | ephemeral */
    materialized: String = "view",
    uniqueKey: Option[String] = None,
    /** dbt-spark `partition_by`: directory-partition the persisted table
      * by these columns (Hive layout) so downstream filters prune at the
      * source. Inline `config(partition_by='col')` or a patch-YAML
      * string/list. */
    partitionBy: Vector[String] = Vector.empty,
    contractEnforced: Boolean = false,
    contract: Option[StructType] = None,
    tags: Vector[String] = Vector.empty,
    /** database.schema.identifier this model materializes to. */
    relationName: Option[String] = None,
    config: YMap = YMap.empty) extends Resource

/** A file-backed source table (the dbt-external-tables pattern): the
  * source's rows live at `location` in `format` (csv/json/parquet/orc)
  * rather than in a pre-registered warehouse table. `options` pass
  * through to the Spark DataFrameReader (header, delimiter, ...). */
final case class ExternalSource(
    location: String,
    format: String = "parquet",
    options: Map[String, String] = Map.empty)

/** One dbt freshness bound: `{count: 12, period: hour}`. */
final case class FreshnessRule(count: Long, period: String) {
  def seconds: Long = period match {
    case "minute" => count * 60L
    case "hour" => count * 3600L
    case "day" => count * 86400L
    case other => throw new IllegalArgumentException(
      s"freshness period must be minute|hour|day, got '$other'")
  }
}

/** dbt source `freshness:` block (warn_after / error_after). */
final case class Freshness(
    warnAfter: Option[FreshnessRule] = None,
    errorAfter: Option[FreshnessRule] = None)

final case class SourceDefinition(
    uniqueId: String,
    name: String, // table name
    sourceName: String, // source block name
    packageName: String,
    filePath: String,
    relationName: Option[String] = None,
    external: Option[ExternalSource] = None,
    /** dbt `loaded_at_field` + `freshness:` — the inputs of
      * `source freshness` (table-level overrides source-level). */
    loadedAtField: Option[String] = None,
    freshness: Option[Freshness] = None) extends Resource

final case class MacroNode(
    uniqueId: String,
    name: String,
    packageName: String,
    filePath: String,
    /** the macro BODY (between the header and endmacro). */
    macroSql: String,
    /** parameter names with optional defaults, from the macro header. */
    params: Vector[(String, Option[String])] = Vector.empty,
    dependsOnMacros: Vector[String] = Vector.empty) extends Resource

final case class Documentation(
    uniqueId: String,
    name: String,
    packageName: String,
    filePath: String,
    blockContents: String) extends Resource

final case class Exposure(
    uniqueId: String,
    name: String,
    packageName: String,
    filePath: String,
    dependsOn: DependsOn = DependsOn(),
    /** the raw `ref('x')`-style strings in depends_on for YAML rewrite */
    refStrings: Vector[String] = Vector.empty) extends Resource

final case class SemanticModel(
    uniqueId: String,
    name: String,
    packageName: String,
    filePath: String,
    /** `model: ref('x')` */
    modelRef: String,
    dependsOn: DependsOn = DependsOn()) extends Resource

final case class MetricNode(
    uniqueId: String,
    name: String,
    packageName: String,
    filePath: String,
    dependsOn: DependsOn = DependsOn()) extends Resource

final case class GroupNode(
    uniqueId: String,
    name: String,
    packageName: String,
    filePath: String,
    owner: Owner = Owner()) extends Resource

final case class TestNode(
    uniqueId: String,
    name: String,
    packageName: String,
    filePath: String,
    dependsOn: DependsOn = DependsOn(),
    /** generic test type: not_null | unique | accepted_values | relationships | custom */
    testType: String = "custom",
    column: Option[String] = None,
    config: YMap = YMap.empty) extends Resource

/** One `given:` fixture of a dbt 1.8 unit test: the input it replaces
  * (a bare `ref('x')` / `source('s', 't')` string, dbt's spelling) and
  * its fixture rows (each a column→value map; unlisted columns read as
  * NULL of the input's real type). */
final case class UnitTestGiven(input: String, rows: Vector[YMap])

/** dbt 1.8 `unit_tests:` block: run `model` against `given` fixtures and
  * diff the output against `expect` rows, exactly. Declared in
  * properties YAML (newer than the reference, which predates dbt 1.8 —
  * parity item for graft as the runner). */
final case class UnitTestNode(
    uniqueId: String,
    name: String,
    packageName: String,
    filePath: String,
    /** the tested model's NAME (dbt's `model:` key). */
    model: String,
    given: Vector[UnitTestGiven] = Vector.empty,
    expect: Vector[YMap] = Vector.empty,
    dependsOn: DependsOn = DependsOn(),
    config: YMap = YMap.empty) extends Resource

/** The typed bag of project resources keyed by unique_id, plus the
  * adjacency maps the graph operators consume (`dbt_projects.py:92-95`). */
final case class Manifest(
    projectName: String,
    nodes: Map[String, ModelNode] = Map.empty,
    sources: Map[String, SourceDefinition] = Map.empty,
    macros: Map[String, MacroNode] = Map.empty,
    docs: Map[String, Documentation] = Map.empty,
    exposures: Map[String, Exposure] = Map.empty,
    semanticModels: Map[String, SemanticModel] = Map.empty,
    groups: Map[String, GroupNode] = Map.empty,
    tests: Map[String, TestNode] = Map.empty,
    metrics: Map[String, MetricNode] = Map.empty,
    unitTests: Map[String, UnitTestNode] = Map.empty) {

  def allResources: Map[String, Resource] =
    nodes ++ sources ++ macros ++ docs ++ exposures ++ semanticModels ++
      groups ++ tests ++ metrics ++ unitTests

  /** All depends_on edges (child -> parents). Tests and exposures and
    * semantic models have node deps; models have node + macro deps. */
  lazy val parentMap: Map[String, Set[String]] = {
    val fromModels = nodes.view.mapValues(_.dependsOn.nodes.toSet)
    val fromTests = tests.view.mapValues(_.dependsOn.nodes.toSet)
    val fromExp = exposures.view.mapValues(_.dependsOn.nodes.toSet)
    val fromSem = semanticModels.view.mapValues(_.dependsOn.nodes.toSet)
    val fromMet = metrics.view.mapValues(_.dependsOn.nodes.toSet)
    val fromUnit = unitTests.view.mapValues(_.dependsOn.nodes.toSet)
    (fromModels ++ fromTests ++ fromExp ++ fromSem ++ fromMet ++ fromUnit)
      .toMap.withDefaultValue(Set.empty)
  }

  /** Inverted adjacency (parent -> children), built once (A3). */
  lazy val childMap: Map[String, Set[String]] = {
    val inv = scala.collection.mutable.Map.empty[String, Set[String]]
    parentMap.foreach { case (child, parents) =>
      parents.foreach(p => inv.update(p, inv.getOrElse(p, Set.empty) + child))
    }
    inv.toMap.withDefaultValue(Set.empty)
  }

  /** relation_name.lower -> unique_id for models & sources — the metagraph
    * join key (A13, `dbt_projects.py:52-61`). */
  lazy val relationIndex: Map[String, String] = {
    val m = nodes.values.flatMap(n => n.relationName.map(r => r.toLowerCase -> n.uniqueId))
    val s = sources.values.flatMap(n => n.relationName.map(r => r.toLowerCase -> n.uniqueId))
    (m ++ s).toMap
  }

  def modelRelations: Set[String] =
    nodes.values.flatMap(_.relationName.map(_.toLowerCase)).toSet
  def sourceRelations: Set[String] =
    sources.values.flatMap(_.relationName.map(_.toLowerCase)).toSet
}

/** dbt_project.yml subset (SURVEY §1.1 Project config). */
final case class ProjectConfig(
    name: String,
    modelPaths: Vector[String] = Vector("models"),
    seedPaths: Vector[String] = Vector("seeds"),
    macroPaths: Vector[String] = Vector("macros"),
    testPaths: Vector[String] = Vector("tests"),
    vars: YMap = YMap.empty,
    raw: YMap = YMap.empty)
