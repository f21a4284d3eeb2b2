package graft.core

import graft.core.graph.Selector
import graft.core.model._
import org.scalatest.funsuite.AnyFunSuite

/** A1 selection grammar over a diamond DAG with tags and paths. */
class SelectorSpec extends AnyFunSuite {

  //    src -> a -> b -> d ;  a -> c -> d  (diamond), e isolated
  private val manifest: Manifest = {
    def m(name: String, deps: Seq[String], tags: Vector[String] = Vector.empty,
        path: Option[String] = None) =
      ModelNode(s"model.p.$name", name, "p",
        path.getOrElse(s"models/$name.sql"), "", dependsOn = DependsOn(deps.toVector),
        tags = tags)
    val src = SourceDefinition("source.p.raw.src", "src", "raw", "p", "models/__s.yml")
    val a = m("a", Seq(src.uniqueId), Vector("nightly"), Some("models/staging/a.sql"))
    val b = m("b", Seq(a.uniqueId), Vector("nightly"))
    val c = m("c", Seq(a.uniqueId))
    val d = m("d", Seq(b.uniqueId, c.uniqueId))
    val e = m("e", Nil)
    Manifest("p", nodes = Map(
      a.uniqueId -> a, b.uniqueId -> b, c.uniqueId -> c,
      d.uniqueId -> d, e.uniqueId -> e),
      sources = Map(src.uniqueId -> src))
  }

  private def ids(s: Set[String]): Set[String] = s.map(_.stripPrefix("model.p."))

  test("bare name, +name, name+, +name+") {
    assert(ids(Selector.select(manifest, Seq("b"))) == Set("b"))
    assert(Selector.select(manifest, Seq("+b")) ==
      Set("model.p.b", "model.p.a", "source.p.raw.src"))
    assert(ids(Selector.select(manifest, Seq("b+"))) == Set("b", "d"))
    assert(Selector.select(manifest, Seq("+b+")) ==
      Set("model.p.b", "model.p.a", "source.p.raw.src", "model.p.d"))
  }

  test("unions and exclude") {
    assert(ids(Selector.select(manifest, Seq("b", "c"))) == Set("b", "c"))
    assert(ids(Selector.select(manifest, Seq("a+"), Seq("d"))) == Set("a", "b", "c"))
  }

  test("tag: and path: methods") {
    assert(ids(Selector.select(manifest, Seq("tag:nightly"))) == Set("a", "b"))
    assert(ids(Selector.select(manifest, Seq("path:models/staging"))) == Set("a"))
    assert(ids(Selector.select(manifest, Seq("tag:nightly+"), Seq("tag:nightly"))) ==
      Set("c", "d"))
  }

  test("tag: supports fnmatch wildcards; path: matches whole components only") {
    // tag:night* must select the 'nightly' carriers, not silently nothing
    assert(ids(Selector.select(manifest, Seq("tag:night*"))) == Set("a", "b"))
    // path:models must not over-select a sibling dir sharing the prefix
    val archived = ModelNode("model.p.z", "z", "p",
      "models_archive/z.sql", "")
    val m2 = manifest.copy(nodes = manifest.nodes + (archived.uniqueId -> archived))
    val picked = Selector.select(m2, Seq("path:models"))
    assert(!picked.contains("model.p.z"), picked.toString)
    assert(ids(picked).contains("a") && ids(picked).contains("b"))
  }

  test("intersection with comma") {
    // descendants of a that carry tag nightly
    assert(ids(Selector.select(manifest, Seq("a+,tag:nightly"))) == Set("a", "b"))
  }

  test("@ operator: node, descendants, ancestors of those") {
    assert(Selector.select(manifest, Seq("@c")) ==
      Set("model.p.c", "model.p.d", // c and descendants
        "model.p.a", "model.p.b", "source.p.raw.src")) // ancestors of those
  }

  test("depth-limited graph operators: N+name and name+N") {
    // src -> a -> b -> d: 1+d reaches only b and c; d's full ancestors add a, src
    assert(ids(Selector.select(manifest, Seq("1+d"))) == Set("d", "b", "c"))
    assert(Selector.select(manifest, Seq("2+d")) ==
      Set("model.p.d", "model.p.b", "model.p.c", "model.p.a"))
    assert(ids(Selector.select(manifest, Seq("a+1"))) == Set("a", "b", "c"))
    assert(ids(Selector.select(manifest, Seq("a+2"))) == Set("a", "b", "c", "d"))
  }

  test("wildcard names, paths, and the source: method") {
    // fnmatch-style name wildcards
    assert(ids(Selector.select(manifest, Seq("?"))) ==
      Set("a", "b", "c", "d", "e"))
    assert(Selector.select(manifest, Seq("sr*")) == Set("source.p.raw.src"))
    // path wildcard
    assert(ids(Selector.select(manifest, Seq("path:models/st*"))) == Set("a"))
    // source method, by source and source.table
    assert(Selector.select(manifest, Seq("source:raw")) == Set("source.p.raw.src"))
    assert(Selector.select(manifest, Seq("source:raw.src")) == Set("source.p.raw.src"))
    assert(Selector.select(manifest, Seq("source:other")).isEmpty)
    // source:raw+ flows into descendants
    assert(ids(Selector.select(manifest, Seq("source:raw+"))) ==
      Set("a", "b", "c", "d") + "source.p.raw.src".stripPrefix("model.p."))
  }

  test("named selectors: string, method map, union/intersection, exclude") {
    val yml =
      """selectors:
        |  - name: simple
        |    definition: "+d"
        |  - name: nightly_models
        |    definition:
        |      method: tag
        |      value: nightly
        |      children: true
        |  - name: combo
        |    definition:
        |      union:
        |        - "a"
        |        - method: tag
        |          value: nightly
        |        - exclude:
        |            - "b"
        |  - name: both
        |    definition:
        |      intersection:
        |        - "+d"
        |        - method: tag
        |          value: nightly
        |""".stripMargin
    assert(ids(Selector.namedSelector(manifest, yml, "simple")) ==
      Set("a", "b", "c", "d") + "source.p.raw.src".stripPrefix("model.p."))
    // tag:nightly = {a, b}; children flows downstream
    assert(ids(Selector.namedSelector(manifest, yml, "nightly_models")) ==
      Set("a", "b", "c", "d"))
    // union(a, tag:nightly) = {a, b}, minus exclude b = {a}
    assert(ids(Selector.namedSelector(manifest, yml, "combo")) == Set("a"))
    // ancestors-of-d ∩ tag:nightly = {a, b}
    assert(ids(Selector.namedSelector(manifest, yml, "both")) == Set("a", "b"))
    intercept[IllegalArgumentException](
      Selector.namedSelector(manifest, yml, "missing"))
  }

  test("unknown methods fail loudly") {
    intercept[IllegalArgumentException](Selector.select(manifest, Seq("result:error")))
    intercept[IllegalArgumentException](Selector.select(manifest, Seq("@+x")))
    // state: is supported but NEEDS a comparison manifest — still loud
    val e = intercept[IllegalArgumentException](
      Selector.select(manifest, Seq("state:modified")))
    assert(e.getMessage.contains("--state"), e.getMessage)
    // and unknown state sub-methods are loud even with one
    intercept[IllegalArgumentException](
      Selector.select(manifest, Seq("state:old"), state = Some(manifest)))
  }

  test("resource_type:, package:, and test_name: methods") {
    val t = TestNode("test.p.not_null_a_id", "not_null_a_id", "p",
      "models/_models.yml", dependsOn = DependsOn(Vector("model.p.a")),
      testType = "not_null", column = Some("id"))
    val m2 = manifest.copy(tests = Map(t.uniqueId -> t))
    assert(Selector.select(m2, Seq("resource_type:source")) ==
      Set("source.p.raw.src"))
    assert(Selector.select(m2, Seq("resource_type:test")) ==
      Set("test.p.not_null_a_id"))
    assert(ids(Selector.select(m2, Seq("resource_type:model"))) ==
      Set("a", "b", "c", "d", "e"))
    assert(Selector.select(m2, Seq("test_name:not_null")) == Set(t.uniqueId))
    assert(Selector.select(m2, Seq("test_name:unique")) == Set.empty)
    // every resource here lives in package p
    assert(Selector.select(m2, Seq("package:p")).size == 7)
    assert(Selector.select(m2, Seq("package:other")) == Set.empty)
  }

  test("group: and version: methods") {
    val m2 = manifest.copy(nodes = manifest.nodes.map {
      case (id, n) if n.name == "a" =>
        id -> n.copy(group = Some("core"), version = Some(1L), latestVersion = Some(2L))
      case (id, n) if n.name == "b" =>
        id -> n.copy(group = Some("core"), version = Some(2L), latestVersion = Some(2L))
      case (id, n) if n.name == "c" =>
        id -> n.copy(version = Some(3L), latestVersion = Some(2L))
      case other => other
    })
    assert(ids(Selector.select(m2, Seq("group:core"))) == Set("a", "b"))
    assert(ids(Selector.select(m2, Seq("version:old"))) == Set("a"))
    assert(ids(Selector.select(m2, Seq("version:latest"))) == Set("b"))
    assert(ids(Selector.select(m2, Seq("version:prerelease"))) == Set("c"))
    assert(ids(Selector.select(m2, Seq("version:none"))) == Set("d", "e"))
    assert(ids(Selector.select(m2, Seq("version:3"))) == Set("c"))
    // composes with graph ops and intersection like any other method
    assert(ids(Selector.select(m2, Seq("group:core+,version:none"))) == Set("d"))
  }

  test("config.materialized: and generic config.<key>: methods") {
    val t = manifest.nodes("model.p.b").copy(materialized = "table",
      config = graft.core.yaml.YMap(Vector(
        "file_format" -> graft.core.yaml.YStr("parquet"))))
    val m2 = manifest.copy(nodes = manifest.nodes.updated(t.uniqueId, t))
    assert(ids(Selector.select(m2, Seq("config.materialized:table"))) == Set("b"))
    assert(ids(Selector.select(m2, Seq("config.materialized:view"))) ==
      Set("a", "c", "d", "e"))
    // graph operators compose with the method
    assert(ids(Selector.select(m2, Seq("config.materialized:table+"))) ==
      Set("b", "d"))
    // generic keys hit the raw config map
    assert(ids(Selector.select(m2, Seq("config.file_format:parquet"))) == Set("b"))
    assert(Selector.select(m2, Seq("config.file_format:orc")).isEmpty)
  }

  test("config.<key>: and tag: see inline config() values") {
    val root = java.nio.file.Files.createTempDirectory("graft_sel")
    Map(
      "dbt_project.yml" -> "name: p\n",
      "models/a.sql" -> "{{ config(file_format='csv', tags=['x']) }}\nselect 1",
      "models/b.py" ->
        "def model(dbt, session):\n    dbt.config(file_format=\"csv\")\n",
      "models/c.sql" -> "select 1"
    ).foreach { case (rel, text) =>
      val p = root.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, text)
    }
    val (_, m) = graft.core.parse.ProjectLoader.load(root)
    assert(ids(Selector.select(m, Seq("config.file_format:csv"))) == Set("a", "b"))
    assert(ids(Selector.select(m, Seq("tag:x"))) == Set("a"))
  }

  test("state:modified and state:new against a stored manifest") {
    // b's SQL changed, f is brand new; everything else is untouched
    val changedB = manifest.nodes("model.p.b").copy(rawCode = "select 2")
    val f = ModelNode("model.p.f", "f", "p", "models/f.sql", "select 3")
    val current = manifest.copy(nodes = manifest.nodes
      .updated(changedB.uniqueId, changedB).updated(f.uniqueId, f))
    assert(ids(Selector.select(current, Seq("state:new"), state = Some(manifest))) ==
      Set("f"))
    // modified includes new (dbt semantics)
    assert(ids(Selector.select(current, Seq("state:modified"), state = Some(manifest))) ==
      Set("b", "f"))
    // config-only changes count as modified too
    val retagged = manifest.nodes("model.p.c").copy(materialized = "table")
    val current2 = manifest.copy(nodes =
      manifest.nodes.updated(retagged.uniqueId, retagged))
    assert(ids(Selector.select(current2, Seq("state:modified"), state = Some(manifest))) ==
      Set("c"))
    // graph operators compose: modified plus descendants
    assert(ids(Selector.select(current2, Seq("state:modified+"), state = Some(manifest))) ==
      Set("c", "d"))
    // identical manifests select nothing
    assert(Selector.select(manifest, Seq("state:modified"), state = Some(manifest)).isEmpty)
  }

  test("result: selects by last-run status from a run_results artifact") {
    val results = Map(
      "model.p.a" -> "success",
      "model.p.b" -> "error",
      "model.p.c" -> "skipped",
      "model.p.ghost" -> "error") // deleted since the run: must not select
    assert(ids(Selector.select(manifest, Seq("result:error"),
      results = Some(results))) == Set("b"))
    // the dbt retry flow: what failed plus what was skipped behind it,
    // with descendants — graph operators compose
    assert(ids(Selector.select(manifest, Seq("result:error+", "result:skipped"),
      results = Some(results))) == Set("b", "c", "d"))
    // no artifact → loud failure, not an empty selection
    val e = intercept[IllegalArgumentException](
      Selector.select(manifest, Seq("result:error")))
    assert(e.getMessage.contains("run_results"))
  }

  test("result: statuses load from a dbt-written run_results.json") {
    val artifact = java.nio.file.Paths.get("src/test/resources/jaffle_run_results.json")
    val rs = graft.core.parse.RunResultsJson.load(artifact)
    // its `"args": {}` names no command, so a retry applies no build gate
    assert(graft.core.parse.RunResultsJson.which(artifact).isEmpty)
    assert(rs("model.split_proj.customers") == "error")
    assert(rs("model.split_proj.stg_orders") == "success")
    assert(rs("model.split_proj.leaf_node") == "skipped")
    // selection against the matching checked-in manifest: the stale id
    // (deleted_model) is in the artifact but not the manifest — dropped
    val m = graft.core.parse.ManifestJson.load(
      java.nio.file.Paths.get("src/test/resources/jaffle_manifest.json"))
    val sel = Selector.select(m, Seq("result:error", "result:skipped"),
      results = Some(rs))
    assert(sel == Set("model.split_proj.customers", "model.split_proj.leaf_node"))
  }

  test("intersection of only excludes fails with a meaningful error") {
    val yml =
      """selectors:
        |  - name: empty_int
        |    definition:
        |      intersection:
        |        - exclude:
        |            - "b"
        |""".stripMargin
    val e = intercept[IllegalArgumentException](
      Selector.namedSelector(manifest, yml, "empty_int"))
    assert(e.getMessage.contains("at least one non-exclude"))
  }
}
