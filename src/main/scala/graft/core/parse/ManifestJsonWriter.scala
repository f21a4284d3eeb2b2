package graft.core.parse

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.core.model._
import graft.core.yaml._

/** Writes a [[graft.core.model.Manifest]] back out in dbt-core's
  * `manifest.json` artifact schema — the emit half of graft's artifact
  * interop (the read half is [[ManifestJson]]). `graft docs generate`
  * uses it so downstream dbt tooling — `dbt ls --state`, slim-CI
  * fingerprint comparisons, docs sites, the reference itself via its
  * manifest input (`dbt_projects.py:9-24`) — can consume a graft-parsed
  * project as if dbt-core had compiled it.
  *
  * Faithfulness notes:
  *  - `raw_code` is emitted STRIPPED, exactly as dbt-core writes it
  *    (`load_file_contents(strip=True)`), so `state:modified`
  *    fingerprints agree across front ends;
  *  - envelope fields graft does not consume (checksum, fqn, docs,
  *    created_at, the full default config dict) are populated with
  *    dbt-shaped values so strict readers do not reject the artifact;
  *  - nodes are emitted in sorted unique_id order — the output is
  *    byte-stable for a given Manifest, so artifact diffs mean
  *    resource-graph diffs.
  */
object ManifestJsonWriter {
  private val mapper = new ObjectMapper()

  def emit(m: Manifest): String = {
    val root = mapper.createObjectNode()
    root.putObject("metadata").put("project_name", m.projectName)

    def dependsOn(o: ObjectNode, d: DependsOn): Unit = {
      val dep = o.putObject("depends_on")
      val ns = dep.putArray("nodes"); d.nodes.foreach(ns.add)
      val ms = dep.putArray("macros"); d.macros.foreach(ms.add)
    }
    def strs(a: ArrayNode, xs: Seq[String]): Unit = xs.foreach(a.add)

    val nodes = root.putObject("nodes")
    m.nodes.toSeq.sortBy(_._1).foreach { case (id, n) =>
      val o = nodes.putObject(id)
      o.put("resource_type", id.takeWhile(_ != '.'))
      o.put("name", n.name)
      o.put("package_name", n.packageName)
      o.put("original_file_path", n.filePath)
      o.put("unique_id", id)
      // dbt-core STRIPS file contents when populating raw_code
      // (core/dbt/clients/system.py load_file_contents strip=True) —
      // the fixture must carry the stripped form so state:modified
      // fingerprints are exercised against real dbt formatting
      o.put("raw_code", n.rawCode.trim)
      o.put("language", n.language)
      // dbt envelope fields graft does not consume — present in every
      // real artifact; the loader must skip them without complaint
      o.put("database", "database")
      o.put("schema", "main")
      o.put("alias", n.name)
      val fqn = o.putArray("fqn")
      fqn.add(n.packageName); fqn.add(n.name)
      o.put("path", n.filePath.stripPrefix("models/"))
      o.put("build_path", null: String)
      o.put("deferred", false)
      o.put("description", "")
      o.putObject("columns")
      o.putObject("meta")
      o.putObject("docs").put("show", true)
      val checksum = o.putObject("checksum")
      checksum.put("name", "sha256")
      checksum.put("checksum", java.security.MessageDigest.getInstance("SHA-256")
        .digest(n.rawCode.trim.getBytes("UTF-8")).map("%02x".format(_)).mkString)
      o.put("created_at", 1690000000.123456d)
      o.putObject("unrendered_config")
      dependsOn(o, n.dependsOn)
      n.patchPath.foreach(p => o.put("patch_path", s"${n.packageName}://$p"))
      o.put("access", n.access.name)
      n.group.foreach(o.put("group", _))
      n.version.foreach(o.put("version", _))
      n.latestVersion.foreach(o.put("latest_version", _))
      strs(o.putArray("tags"), n.tags)
      n.relationName.foreach(o.put("relation_name", _))
      val c = o.putObject("config")
      // dbt writes the FULL default config dict; a representative slice
      // of defaults first, then the model's resolved config over it (a
      // default fills only what the model leaves unset)
      c.put("enabled", true)
      c.putArray("tags")
      c.putObject("meta")
      c.putArray("post-hook"); c.putArray("pre-hook")
      c.putObject("quoting"); c.putObject("column_types")
      c.put("on_schema_change", "ignore")
      c.putObject("persist_docs")
      c.putArray("packages")
      c.putObject("grants")
      c.put("materialized", n.materialized)
      n.uniqueKey.foreach(c.put("unique_key", _))
      if (n.partitionBy.nonEmpty) strs(c.putArray("partition_by"), n.partitionBy)
      c.putObject("contract").put("enforced", n.contractEnforced)
      // dbt writes each hook as a {sql, transaction} object; the
      // resolved config holds plain SQL strings
      n.config.entries.foreach { case (k, v) =>
        val out = (k, v) match {
          case ("pre-hook" | "post-hook", YList(hooks)) => YList(hooks.map {
            case YStr(sql) => YMap.of("sql" -> YStr(sql), "transaction" -> YBool(true))
            case h => h
          })
          case _ => v
        }
        c.set[com.fasterxml.jackson.databind.JsonNode](k, yToJson(out)); ()
      }
    }
    m.tests.toSeq.sortBy(_._1).foreach { case (id, t) =>
      val o = nodes.putObject(id)
      o.put("resource_type", "test")
      o.put("name", t.name)
      o.put("package_name", t.packageName)
      o.put("original_file_path", t.filePath)
      o.put("unique_id", id)
      dependsOn(o, t.dependsOn)
      t.column.foreach(o.put("column_name", _))
      val meta = o.putObject("test_metadata")
      meta.put("name", t.testType)
      t.column.foreach(meta.putObject("kwargs").put("column_name", _))
      o.set[com.fasterxml.jackson.databind.JsonNode]("config", yToJson(t.config)); ()
    }

    val sources = root.putObject("sources")
    m.sources.toSeq.sortBy(_._1).foreach { case (id, s) =>
      val o = sources.putObject(id)
      o.put("resource_type", "source")
      o.put("name", s.name)
      o.put("source_name", s.sourceName)
      o.put("package_name", s.packageName)
      o.put("original_file_path", s.filePath)
      o.put("unique_id", id)
      s.relationName.foreach(o.put("relation_name", _))
      s.external.foreach { e =>
        val x = o.putObject("external")
        x.put("location", e.location)
        x.put("file_format", e.format)
        val opts = x.putObject("options")
        e.options.toSeq.sorted.foreach { case (k, v) => opts.put(k, v) }
      }
    }

    val macros = root.putObject("macros")
    m.macros.toSeq.sortBy(_._1).foreach { case (id, mc) =>
      val o = macros.putObject(id)
      o.put("name", mc.name)
      o.put("package_name", mc.packageName)
      o.put("original_file_path", mc.filePath)
      o.put("unique_id", id)
      val params = mc.params.map {
        case (p, Some(d)) => s"$p=$d"
        case (p, None) => p
      }.mkString(", ")
      o.put("macro_sql",
        s"{% macro ${mc.name}($params) %}${mc.macroSql}{% endmacro %}")
      val dep = o.putObject("depends_on")
      strs(dep.putArray("macros"), mc.dependsOnMacros)
    }

    val docs = root.putObject("docs")
    m.docs.toSeq.sortBy(_._1).foreach { case (id, d) =>
      val o = docs.putObject(id)
      o.put("name", d.name)
      o.put("package_name", d.packageName)
      o.put("original_file_path", d.filePath)
      o.put("unique_id", id)
      o.put("block_contents", d.blockContents)
    }

    val exposures = root.putObject("exposures")
    m.exposures.toSeq.sortBy(_._1).foreach { case (id, e) =>
      val o = exposures.putObject(id)
      o.put("name", e.name)
      o.put("package_name", e.packageName)
      o.put("original_file_path", e.filePath)
      o.put("unique_id", id)
      dependsOn(o, e.dependsOn)
      val refs = o.putArray("refs")
      e.refStrings.flatMap(JinjaLite.refs(_, JinjaLite.Framing.Bare)).foreach { r =>
        val ro = refs.addObject()
        ro.put("name", r.name)
        r.project.foreach(ro.put("package", _))
        r.version.foreach(ro.put("version", _))
      }
    }

    val sems = root.putObject("semantic_models")
    m.semanticModels.toSeq.sortBy(_._1).foreach { case (id, sm) =>
      val o = sems.putObject(id)
      o.put("name", sm.name)
      o.put("package_name", sm.packageName)
      o.put("original_file_path", sm.filePath)
      o.put("unique_id", id)
      o.put("model", sm.modelRef)
      dependsOn(o, sm.dependsOn)
    }

    val groups = root.putObject("groups")
    m.groups.toSeq.sortBy(_._1).foreach { case (id, g) =>
      val o = groups.putObject(id)
      o.put("name", g.name)
      o.put("package_name", g.packageName)
      o.put("original_file_path", g.filePath)
      o.put("unique_id", id)
      val ow = o.putObject("owner")
      g.owner.name.foreach(ow.put("name", _))
      g.owner.email.foreach(ow.put("email", _))
    }

    val metrics = root.putObject("metrics")
    m.metrics.toSeq.sortBy(_._1).foreach { case (id, mt) =>
      val o = metrics.putObject(id)
      o.put("name", mt.name)
      o.put("package_name", mt.packageName)
      o.put("original_file_path", mt.filePath)
      o.put("unique_id", id)
      dependsOn(o, mt.dependsOn)
    }

    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  private def yToJson(y: Y): com.fasterxml.jackson.databind.JsonNode = y match {
    case YStr(s) => mapper.getNodeFactory.textNode(s)
    case YInt(i) => mapper.getNodeFactory.numberNode(i)
    case YDbl(d) => mapper.getNodeFactory.numberNode(d)
    case YBool(b) => mapper.getNodeFactory.booleanNode(b)
    case YNull => mapper.getNodeFactory.nullNode()
    case YList(items) =>
      val a = mapper.createArrayNode()
      items.foreach { i => a.add(yToJson(i)); () }
      a
    case ym: YMap =>
      val o = mapper.createObjectNode()
      ym.entries.foreach { case (k, v) => o.set[com.fasterxml.jackson.databind.JsonNode](k, yToJson(v)); () }
      o
  }
  /** Write to `path` (conventionally `<project>/target/manifest.json`). */
  def write(m: Manifest, path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, emit(m))
    ()
  }
}
