package graft.core

import graft.core.changes._
import graft.core.model.AccessType
import graft.core.parse.ProjectLoader
import graft.core.yaml.{YBool, YList, YMap, YStr}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}

/** Native project loading (replaces the `dbt parse` process boundary). */
class ProjectLoaderSpec extends AnyFunSuite {

  private def writeProject(files: Map[String, String]): Path = {
    val root = Files.createTempDirectory("graft_loader")
    files.foreach { case (rel, text) =>
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text)
    }
    root
  }

  private val baseProject = Map(
    "dbt_project.yml" ->
      """name: jaffle
        |vars:
        |  cutoff: '2024-01-01'
        |""".stripMargin,
    "models/staging/__sources.yml" ->
      """version: 2
        |sources:
        |  - name: raw
        |    database: main
        |    schema: raw
        |    tables:
        |      - name: orders
        |""".stripMargin,
    "models/staging/stg_orders.sql" ->
      "select * from {{ source('raw', 'orders') }}",
    "models/orders.sql" ->
      "{{ config(materialized='table') }}\nselect * from {{ ref('stg_orders') }}",
    "macros/helper.sql" ->
      "{% macro helper(x) %}{{ x }} + 1{% endmacro %}")

  test("circular local: packages terminate, no stack overflow") {
    // exactly the shape `connect` creates: two meshed projects that
    // install each other via local: packages
    val root = Files.createTempDirectory("graft_circ")
    def proj(dir: String, name: String, other: String): Unit = {
      val p = root.resolve(dir)
      Files.createDirectories(p.resolve("models"))
      Files.writeString(p.resolve("dbt_project.yml"), s"name: $name\n")
      Files.writeString(p.resolve("packages.yml"),
        s"packages:\n  - local: ../$other\n")
      Files.writeString(p.resolve("models").resolve(s"${name}_m.sql"),
        "select 1 as x")
    }
    proj("a", "proj_a", "b")
    proj("b", "proj_b", "a")
    val (_, ma) = ProjectLoader.load(root.resolve("a"))
    // the visited set stops the a→b→a cycle, so proj_a sees proj_b's
    // models and the load terminates
    assert(ma.nodes.contains("model.proj_a.proj_a_m"))
    assert(ma.nodes.contains("model.proj_b.proj_b_m"))
  }

  test("transitive packages load to full depth (a installs b installs c)") {
    val root = Files.createTempDirectory("graft_chain")
    def proj(dir: String, name: String, pkg: Option[String]): Unit = {
      val p = root.resolve(dir)
      Files.createDirectories(p.resolve("models"))
      Files.writeString(p.resolve("dbt_project.yml"), s"name: $name\n")
      pkg.foreach(o => Files.writeString(p.resolve("packages.yml"),
        s"packages:\n  - local: ../$o\n"))
      Files.writeString(p.resolve("models").resolve(s"${name}_m.sql"),
        "select 1 as x")
    }
    proj("a", "proj_a", Some("b"))
    proj("b", "proj_b", Some("c"))
    proj("c", "proj_c", None)
    val (_, ma) = ProjectLoader.load(root.resolve("a"))
    assert(ma.nodes.contains("model.proj_a.proj_a_m"))
    assert(ma.nodes.contains("model.proj_b.proj_b_m"))
    // the depth-2 package must not silently vanish from the manifest
    assert(ma.nodes.contains("model.proj_c.proj_c_m"),
      "transitive package c dropped")
  }

  test("loads models, sources, macros with resolved depends_on") {
    val root = writeProject(baseProject)
    val (cfg, m) = ProjectLoader.load(root)
    assert(cfg.name == "jaffle")
    assert(m.nodes.keySet == Set("model.jaffle.stg_orders", "model.jaffle.orders"))
    assert(m.sources.keySet == Set("source.jaffle.raw.orders"))
    assert(m.macros.keySet == Set("macro.jaffle.helper"))
    assert(m.nodes("model.jaffle.stg_orders").dependsOn.nodes ==
      Vector("source.jaffle.raw.orders"))
    assert(m.nodes("model.jaffle.orders").dependsOn.nodes ==
      Vector("model.jaffle.stg_orders"))
    assert(m.nodes("model.jaffle.orders").materialized == "table")
  }

  test("versioned files resolve to the base model; latest wins, old versions get .vN ids") {
    val root = writeProject(baseProject - "models/orders.sql" ++ Map(
      "models/_orders.yml" ->
        """version: 2
          |models:
          |  - name: orders
          |    latest_version: 2
          |    versions:
          |      - v: 1
          |      - v: 2
          |        defined_in: orders_latest
          |""".stripMargin,
      "models/orders_v1.sql" -> "select 1 as id",
      "models/orders_latest.sql" ->
        "select * from {{ ref('stg_orders') }}"))
    val (_, m) = ProjectLoader.load(root)
    assert(m.nodes.contains("model.jaffle.orders"))
    assert(m.nodes("model.jaffle.orders").filePath == "models/orders_latest.sql")
    assert(m.nodes.contains("model.jaffle.orders.v1"))
    // ref('orders') from another model would resolve to the latest node
    assert(m.nodes("model.jaffle.orders").dependsOn.nodes ==
      Vector("model.jaffle.stg_orders"))
  }

  test("non-integer versions don't abort the load (error only when versioning)") {
    val root = writeProject(baseProject ++ Map(
      "models/_orders.yml" ->
        """version: 2
          |models:
          |  - name: orders
          |    latest_version: john_olerud
          |    versions:
          |      - v: john_olerud
          |""".stripMargin))
    val (_, m) = ProjectLoader.load(root)
    assert(m.nodes.contains("model.jaffle.orders"))
  }

  test("non-enforced models with exotic data_type strings load fine") {
    // data_type like varchar(255)/array<string> is docs vocabulary for
    // non-contracted models; it must not abort the project load
    val root = writeProject(baseProject ++ Map(
      "models/__models.yml" ->
        """version: 2
          |models:
          |  - name: orders
          |    columns:
          |      - name: id
          |        data_type: varchar(255)
          |      - name: tags
          |        data_type: array<string>
          |""".stripMargin))
    val (_, m) = ProjectLoader.load(root)
    val orders = m.nodes("model.jaffle.orders")
    assert(!orders.contractEnforced)
    assert(orders.contract.isEmpty)
  }

  test("enforced contract parses typed columns into a StructType") {
    val root = writeProject(baseProject ++ Map(
      "models/__models.yml" ->
        """version: 2
          |models:
          |  - name: orders
          |    config:
          |      contract:
          |        enforced: true
          |    columns:
          |      - name: id
          |        data_type: bigint
          |      - name: total
          |        data_type: double
          |""".stripMargin))
    val (_, m) = ProjectLoader.load(root)
    val orders = m.nodes("model.jaffle.orders")
    assert(orders.contractEnforced)
    assert(orders.contract.contains(StructType(Seq(
      StructField("id", LongType), StructField("total", DoubleType)))))
  }

  test("enforced contract with a partially-typed column list aborts the load") {
    val root = writeProject(baseProject ++ Map(
      "models/__models.yml" ->
        """version: 2
          |models:
          |  - name: orders
          |    config:
          |      contract:
          |        enforced: true
          |    columns:
          |      - name: id
          |        data_type: bigint
          |      - name: untyped_col
          |""".stripMargin))
    val e = intercept[IllegalArgumentException](ProjectLoader.load(root))
    assert(e.getMessage.contains("untyped_col"))
  }

  test("exposures and semantic models resolve bare YAML ref strings") {
    val root = writeProject(baseProject ++ Map(
      "models/__exposures.yml" ->
        """version: 2
          |exposures:
          |  - name: dash
          |    type: dashboard
          |    depends_on:
          |      - ref('orders')
          |semantic_models:
          |  - name: orders_sm
          |    model: ref('orders')
          |""".stripMargin))
    val (_, m) = ProjectLoader.load(root)
    assert(m.exposures("exposure.jaffle.dash").dependsOn.nodes ==
      Vector("model.jaffle.orders"))
    assert(m.semanticModels("semantic_model.jaffle.orders_sm").dependsOn.nodes ==
      Vector("model.jaffle.orders"))
  }

  test("metrics parse with resolved model refs") {
    val root = writeProject(baseProject ++ Map(
      "models/__metrics.yml" ->
        """version: 2
          |metrics:
          |  - name: order_count
          |    label: Orders
          |    model: ref('orders')
          |""".stripMargin))
    val (_, m) = ProjectLoader.load(root)
    assert(m.metrics.keySet == Set("metric.jaffle.order_count"))
    assert(m.metrics("metric.jaffle.order_count").dependsOn.nodes ==
      Vector("model.jaffle.orders"))
    // metric is a child of its model in the adjacency
    assert(m.childMap("model.jaffle.orders").contains("metric.jaffle.order_count"))
  }

  test("column tests become test nodes depending on their model") {
    val root = writeProject(baseProject ++ Map(
      "models/__models.yml" ->
        """version: 2
          |models:
          |  - name: orders
          |    columns:
          |      - name: id
          |        tests:
          |          - not_null
          |          - unique
          |""".stripMargin))
    val (_, m) = ProjectLoader.load(root)
    assert(m.tests.keySet == Set(
      "test.jaffle.not_null_orders_id", "test.jaffle.unique_orders_id"))
    m.tests.values.foreach(t =>
      assert(t.dependsOn.nodes.contains("model.jaffle.orders")))
  }

  test("a single properties file over 3 MiB loads and takes an upsert") {
    // dbt-core's PyYAML loader has no document-size cap, so one
    // schema.yml for a couple of thousand models is an ordinary project
    val n = 2000
    val cols = (1 to 10).map(c =>
      s"      - name: col_$c\n        description: ${"column text " * 8}\n").mkString
    val props = new StringBuilder("version: 2\nmodels:\n")
    (0 until n).foreach(i =>
      props ++= f"  - name: m_$i%04d\n    description: ${"model text " * 20}\n" +
        "    columns:\n" + cols)
    assert(props.length > 3 * 1024 * 1024)
    val root = writeProject(Map(
      "dbt_project.yml" -> "name: big\n",
      "models/schema.yml" -> props.toString) ++
      (0 until n).map(i => f"models/m_$i%04d.sql" -> "select 1 as id"))
    val (_, m) = ProjectLoader.load(root)
    assert(m.nodes.size == n)
    assert(m.nodes("model.big.m_0007").patchPath.isDefined)
    new ChangeSetProcessor(root).process(Seq(ChangeSet(Vector(
      ResourceChange(Operation.Update, EntityType.Model, "m_0007",
        "models/schema.yml", YMap.of("access" -> YStr("public")))))))
    val (_, after) = ProjectLoader.load(root)
    assert(after.nodes("model.big.m_0007").access == AccessType.Public)
    assert(after.nodes("model.big.m_0008").access == AccessType.Protected)
  }

  test("config resolves once: inline overrides the patch, hooks and tags append") {
    val root = writeProject(Map(
      "dbt_project.yml" -> "name: rc\n",
      "models/_props.yml" ->
        """version: 2
          |models:
          |  - name: m
          |    tags: [top]
          |    config:
          |      enabled: false
          |      materialized: view
          |      file_format: json
          |      on_schema_change: fail
          |      tags: [patch]
          |      pre_hook: "select 'p1'"
          |      post-hook: ["select 'q1'"]
          |""".stripMargin,
      "models/m.sql" ->
        ("{{ config(enabled=true, materialized='table', file_format='csv', " +
          "tags=['inline'], pre_hook=\"select 'i1'\", " +
          "check_cols=['a, b', 'c']) }}\nselect 1 as id")))
    val (_, man) = ProjectLoader.load(root)
    // inline enabled=true overrides the patch's enabled: false
    val n = man.nodes("model.rc.m")
    assert(n.materialized == "table")
    assert(n.tags == Vector("top", "patch", "inline"))
    val c = n.config
    assert(c.get("enabled").contains(YBool(true)))
    assert(c.get("file_format").contains(YStr("csv")))
    assert(c.get("on_schema_change").contains(YStr("fail")))
    assert(c.get("pre-hook").contains(
      YList.of(YStr("select 'p1'"), YStr("select 'i1'"))))
    assert(c.get("post-hook").contains(YList.of(YStr("select 'q1'"))))
    assert(!c.contains("pre_hook"))
    // a list literal parses once, quote-aware
    assert(c.get("check_cols").contains(YList.of(YStr("a, b"), YStr("c"))))
  }

  test("a ref bound in a {% set %} tag and a versioned Python ref are DAG edges") {
    val root = writeProject(Map(
      "dbt_project.yml" -> "name: tp\n",
      "models/orders.sql" -> "select 1 as id",
      "models/report.sql" ->
        "{% set rel = ref('orders') %}\nselect * from {{ rel }}",
      // the set-bound ref must not stop the loop's refs from being seen
      "models/mixed.sql" ->
        ("{% set rel = ref('orders') %}select * from {{ rel }}\n" +
          "{% for t in ['report'] %}union all select * from {{ ref(t) }}{% endfor %}"),
      "models/py_report.py" ->
        "def model(dbt, session):\n    return dbt.ref(\"orders\", v=1)\n",
      "models/_exposures.yml" ->
        """version: 2
          |exposures:
          |  - name: dash
          |    type: dashboard
          |    depends_on:
          |      - ref("orders")
          |      - ref('report', v=2)
          |      - ref('orders')
          |""".stripMargin))
    val (_, m) = ProjectLoader.load(root)
    assert(m.parentMap("model.tp.report") == Set("model.tp.orders"))
    assert(m.parentMap("model.tp.py_report") == Set("model.tp.orders"))
    assert(m.parentMap("model.tp.mixed") == Set("model.tp.orders", "model.tp.report"))
    assert(graft.core.graph.Selector.select(m, Seq("+report")) ==
      Set("model.tp.orders", "model.tp.report"))
    // resource deps are distinct, as dbt-core lists them
    assert(m.exposures("exposure.tp.dash").dependsOn.nodes ==
      Vector("model.tp.orders", "model.tp.report"))
  }
}
