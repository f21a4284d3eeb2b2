package graft.core.parse

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.core.model._
import graft.core.yaml._
import scala.jdk.CollectionConverters._

/** Loader for a dbt-core-produced `manifest.json` — the reference's
  * PRIMARY input surface (`dbt_projects.py:9-24` imports dbt-core's
  * `Manifest`; `dbt.parse` at `dbt_projects.py:293` produces it). graft
  * normally parses projects natively with JinjaLite, but a project whose
  * Jinja exceeds that (large, loudly-failing) subset can hand graft the
  * pre-rendered manifest instead: every mesh command (split / group /
  * version / connect …) needs only the resource graph this file carries,
  * not the renderer.
  *
  * Field spellings follow the public dbt-core artifact schema
  * (resource_type / original_file_path / patch_path / depends_on /
  * raw_code / relation_name …), the same attributes the reference reads
  * off its typed nodes (e.g. `dbt_projects.py:52-61,144,322,330,413`).
  * Parsing is jackson-databind (shipped with Spark) — no new deps.
  *
  * Unknown fields are ignored (dbt adds fields every minor release);
  * missing REQUIRED fields fail loudly with the node id in the message.
  */
object ManifestJson {

  def load(path: java.nio.file.Path): Manifest =
    parse(java.nio.file.Files.readString(path))

  def parse(json: String): Manifest = {
    val root = new ObjectMapper().readTree(json)

    def fields(section: String): Seq[(String, JsonNode)] =
      Option(root.get(section)).toSeq
        .flatMap(_.properties().asScala.map(e => e.getKey -> e.getValue))

    def str(n: JsonNode, f: String, id: String): String =
      opt(n, f).map(_.asText).getOrElse(
        throw new IllegalArgumentException(s"manifest.json: $id missing '$f'"))
    def opt(n: JsonNode, f: String): Option[JsonNode] =
      Option(n.get(f)).filterNot(_.isNull)
    def optStr(n: JsonNode, f: String): Option[String] = opt(n, f).map(_.asText)
    def strSeq(n: Option[JsonNode]): Vector[String] =
      n.toVector.flatMap(_.elements().asScala).map(_.asText)
    def dependsOn(n: JsonNode): DependsOn = opt(n, "depends_on")
      .map(d => DependsOn(
        nodes = strSeq(opt(d, "nodes")),
        macros = strSeq(opt(d, "macros"))))
      .getOrElse(DependsOn())
    // dbt writes patch_path as "<package>://<path>"
    def patchPath(n: JsonNode): Option[String] =
      optStr(n, "patch_path").map(p => p.split("://", 2) match {
        case Array(_, rel) => rel
        case _ => p
      })

    val nodes = Map.newBuilder[String, ModelNode]
    val tests = Map.newBuilder[String, TestNode]
    fields("nodes").foreach { case (id, n) =>
      val rt = str(n, "resource_type", id)
      val cfg = opt(n, "config")
      // name/package_name/original_file_path are required only on the
      // resource types we consume — extracting them lazily keeps skipped
      // types (analysis/operation/…) tolerated even when malformed.
      rt match {
        case "model" | "seed" | "snapshot" =>
          // dbt writes each hook as a {sql, transaction} object; the
          // config keeps the plain SQL strings the native loader resolves
          val config = YMap(cfg.map(toY(_).asMap.entries).getOrElse(Vector.empty).map {
            case (k @ ("pre-hook" | "post-hook"), YList(hooks)) => k -> YList(hooks.map {
              case h: YMap => h.get("sql").getOrElse(h)
              case h => h
            })
            case kv => kv
          })
          nodes += id -> ModelNode(
            uniqueId = id, name = str(n, "name", id),
            packageName = str(n, "package_name", id),
            filePath = str(n, "original_file_path", id),
            rawCode = optStr(n, "raw_code").getOrElse(""),
            language = optStr(n, "language").getOrElse("sql"),
            dependsOn = dependsOn(n),
            patchPath = patchPath(n),
            access = optStr(n, "access") match {
              case Some("private") => AccessType.Private
              case Some("public") => AccessType.Public
              case _ => AccessType.Protected
            },
            group = optStr(n, "group")
              .orElse(cfg.flatMap(c => optStr(c, "group"))),
            version = opt(n, "version").filter(_.canConvertToLong)
              .map(_.asLong),
            latestVersion = opt(n, "latest_version")
              .filter(_.canConvertToLong).map(_.asLong),
            materialized = cfg.flatMap(c => optStr(c, "materialized"))
              .getOrElse(if (rt == "model") "view" else rt),
            uniqueKey = cfg.flatMap(c => optStr(c, "unique_key")),
            partitionBy = cfg.flatMap(c => opt(c, "partition_by")).toVector
              .flatMap(pb =>
                if (pb.isArray) pb.elements().asScala.map(_.asText).toVector
                else Vector(pb.asText)),
            contractEnforced = cfg.flatMap(c => opt(c, "contract"))
              .flatMap(c => opt(c, "enforced")).exists(_.asBoolean),
            tags = strSeq(opt(n, "tags")),
            relationName = optStr(n, "relation_name"),
            config = config)
        case "test" =>
          val meta = opt(n, "test_metadata")
          tests += id -> TestNode(
            uniqueId = id, name = str(n, "name", id),
            packageName = str(n, "package_name", id),
            filePath = str(n, "original_file_path", id),
            dependsOn = dependsOn(n),
            testType = meta.flatMap(optStr(_, "name")).getOrElse("custom"),
            column = optStr(n, "column_name").orElse(
              meta.flatMap(m => opt(m, "kwargs"))
                .flatMap(optStr(_, "column_name"))),
            config = cfg.map(toY(_).asMap).getOrElse(YMap.empty))
        case _ =>
          // Real dbt-core manifests carry 'operation' (on-run-start/end
          // hooks), 'analysis', 'sql_operation', … under nodes; the
          // reference tolerates these (dbt_projects.py:211-218). Skip —
          // they are not part of the mesh surface — and only fail on
          // malformed entries of the types we DO consume above.
          ()
      }
    }

    val sources = fields("sources").map { case (id, s) =>
      id -> SourceDefinition(
        uniqueId = id,
        name = str(s, "name", id),
        sourceName = str(s, "source_name", id),
        packageName = str(s, "package_name", id),
        filePath = str(s, "original_file_path", id),
        relationName = optStr(s, "relation_name"),
        external = opt(s, "external").flatMap(e => optStr(e, "location").map {
          loc =>
            ExternalSource(loc,
              format = optStr(e, "file_format").getOrElse("parquet"),
              options = opt(e, "options").map(_.properties().asScala
                .map(kv => kv.getKey -> kv.getValue.asText).toMap)
                .getOrElse(Map.empty))
        }))
    }.toMap

    val macros = fields("macros").map { case (id, m) =>
      val sql = optStr(m, "macro_sql").getOrElse("")
      // manifest macro_sql carries the FULL {% macro %}…{% endmacro %}
      // (or {% test %}…) block; reuse the native header parser for the
      // body/params split ProjectLoader performs on macro files
      val defs = JinjaLite.findMacroDefs(sql) ++ JinjaLite.findTestDefs(sql)
      val (body, params) = defs.headOption
        .map(d => (d.body, d.params)).getOrElse((sql, Vector.empty))
      id -> MacroNode(
        uniqueId = id, name = str(m, "name", id),
        packageName = str(m, "package_name", id),
        filePath = str(m, "original_file_path", id),
        macroSql = body, params = params,
        dependsOnMacros = strSeq(opt(m, "depends_on").flatMap(opt(_, "macros"))))
    }.toMap

    val docs = fields("docs").map { case (id, d) =>
      id -> Documentation(
        uniqueId = id, name = str(d, "name", id),
        packageName = str(d, "package_name", id),
        filePath = str(d, "original_file_path", id),
        blockContents = optStr(d, "block_contents").getOrElse(""))
    }.toMap

    val exposures = fields("exposures").map { case (id, e) =>
      // the manifest stores resolved refs, not the YAML strings; rebuild
      // the canonical bare ref('x') / ref('pkg', 'x', v=n) forms D5 rewrites
      val refStrings = opt(e, "refs").toVector
        .flatMap(_.elements().asScala).map { r =>
          JinjaLite.print(JinjaLite.RefCall(optStr(r, "package"),
            optStr(r, "name").getOrElse(""),
            optStr(r, "version").flatMap(_.stripSuffix(".0").toIntOption)),
            JinjaLite.Framing.Bare)
        }
      id -> Exposure(
        uniqueId = id, name = str(e, "name", id),
        packageName = str(e, "package_name", id),
        filePath = str(e, "original_file_path", id),
        dependsOn = dependsOn(e),
        refStrings = refStrings)
    }.toMap

    val semanticModels = fields("semantic_models").map { case (id, sm) =>
      id -> SemanticModel(
        uniqueId = id, name = str(sm, "name", id),
        packageName = str(sm, "package_name", id),
        filePath = str(sm, "original_file_path", id),
        modelRef = optStr(sm, "model").getOrElse(""),
        dependsOn = dependsOn(sm))
    }.toMap

    val groups = fields("groups").map { case (id, g) =>
      id -> GroupNode(
        uniqueId = id, name = str(g, "name", id),
        packageName = str(g, "package_name", id),
        filePath = str(g, "original_file_path", id),
        owner = opt(g, "owner").map(o =>
          Owner(optStr(o, "name"), optStr(o, "email"))).getOrElse(Owner()))
    }.toMap

    val metrics = fields("metrics").map { case (id, m) =>
      id -> MetricNode(
        uniqueId = id, name = str(m, "name", id),
        packageName = str(m, "package_name", id),
        filePath = str(m, "original_file_path", id),
        dependsOn = dependsOn(m))
    }.toMap

    val builtNodes = nodes.result()
    val projectName = Option(root.get("metadata"))
      .flatMap(m => Option(m.get("project_name")).filterNot(_.isNull))
      .map(_.asText)
      .orElse(builtNodes.values.headOption.map(_.packageName))
      .getOrElse(throw new IllegalArgumentException(
        "manifest.json: no metadata.project_name and no nodes to infer it from"))

    Manifest(
      projectName = projectName,
      nodes = builtNodes,
      sources = sources,
      macros = macros,
      docs = docs,
      exposures = exposures,
      semanticModels = semanticModels,
      groups = groups,
      tests = tests.result(),
      metrics = metrics)
  }

  /** JsonNode → the order-preserving Y tree (configs stay inspectable by
    * the same code paths that read YAML-parsed configs). */
  private def toY(n: JsonNode): Y =
    if (n.isNull) YNull
    else if (n.isBoolean) YBool(n.asBoolean)
    else if (n.isIntegralNumber) YInt(n.asLong)
    else if (n.isNumber) YDbl(n.asDouble)
    else if (n.isTextual) YStr(n.asText)
    else if (n.isArray) YList(n.elements().asScala.map(toY).toVector)
    else YMap(n.properties().asScala.map(e => e.getKey -> toY(e.getValue)).toVector)
}
