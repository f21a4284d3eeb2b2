package graft.engine

import graft.SparkFixture
import graft.core.parse.ProjectLoader
import graft.core.catalog.Contracts
import graft.enforce.AccessControl
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

/** End-to-end data plane: load a mini dbt-shaped project, run it in DAG
  * order on Spark, enforce contracts + access, run generic tests, and
  * re-run an incremental model (SURVEY §7 "minimum end-to-end slice"). */
class RunnerSpec extends AnyFunSuite with SparkFixture {

  private def writeProject(files: Map[String, String]): Path = {
    val root = Files.createTempDirectory("graft_runner")
    files.foreach { case (rel, text) =>
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text)
    }
    root
  }

  private def mkRunner(root: Path, enforceAccess: Boolean = true) = {
    val (cfg, manifest) = ProjectLoader.load(root)
    val wh = Files.createTempDirectory("graft_wh")
    (new Runner(spark, manifest, cfg, wh, enforceAccess = enforceAccess), manifest)
  }

  private val project = Map(
    "dbt_project.yml" ->
      """name: jaffle
        |vars:
        |  cutoff: '2099-01-01'
        |""".stripMargin,
    "models/__sources.yml" ->
      """version: 2
        |sources:
        |  - name: raw
        |    tables:
        |      - name: raw_orders
        |""".stripMargin,
    "models/__models.yml" ->
      """version: 2
        |models:
        |  - name: orders
        |    access: private
        |    group: core
        |    config:
        |      contract:
        |        enforced: true
        |    columns:
        |      - name: id
        |        data_type: bigint
        |        tests:
        |          - not_null
        |          - unique
        |      - name: dollars
        |        data_type: decimal(16,2)
        |""".stripMargin,
    "macros/cents_to_dollars.sql" ->
      "{% macro cents_to_dollars(col) %}cast({{ col }} / 100.0 as decimal(16,2)){% endmacro %}",
    "models/stg_orders.sql" ->
      """select id, cents from {{ source('raw', 'raw_orders') }}
        |where id is not null and '{{ var('cutoff') }}' > '2000'""".stripMargin,
    "models/orders.sql" ->
      ("{{ config(materialized='table') }}\n" +
        "select id, {{ cents_to_dollars('cents') }} as dollars from {{ ref('stg_orders') }}"))

  test("runs the DAG end-to-end: source → staging → contracted mart") {
    val s = spark
    import s.implicits._
    Seq((1L, 150L), (2L, 250L), (3L, 1000L)).toDF("id", "cents")
      .createOrReplaceTempView("raw_orders")
    val root = writeProject(project)
    val (runner, _) = mkRunner(root)
    val out = runner.run()
    val orders = out("model.jaffle.orders").orderBy("id").collect()
    assert(orders.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(orders.map(_.getDecimal(1).toString).toSeq == Seq("1.50", "2.50", "10.00"))
    // generic tests all pass (0 violations)
    assert(runner.runTestsDetailed().values.forall(_._2 == 0L))
  }

  test("contract violation: produced schema must match the declared contract") {
    val s = spark
    import s.implicits._
    Seq((1L, 150L)).toDF("id", "cents").createOrReplaceTempView("raw_orders")
    val bad = project.updated("models/orders.sql",
      "{{ config(materialized='table') }}\n" +
        // dollars column missing, extra column present
        "select id, cents as other from {{ ref('stg_orders') }}")
    val root = writeProject(bad)
    val (runner, _) = mkRunner(root)
    val e = intercept[Contracts.ContractViolation](runner.run())
    assert(e.problems.exists(_.contains("missing column dollars")))
    assert(e.problems.exists(_.contains("undeclared column other")))
  }

  test("access enforcement: a foreign query cannot read a private model") {
    val s = spark
    import s.implicits._
    Seq((1L, 150L)).toDF("id", "cents").createOrReplaceTempView("raw_orders")
    val root = writeProject(project)
    val (runner, manifest) = mkRunner(root)
    runner.run()
    val reg = AccessControl.forSession(s)
    // same project+group reads fine
    reg.checkSql(s, s"select * from ${runner.viewName("orders")}",
      AccessControl.Context("jaffle", Some("core")))
    // another project is rejected
    intercept[AccessControl.MeshAccessViolation](
      reg.checkSql(s, s"select * from ${runner.viewName("orders")}",
        AccessControl.Context("other_proj", None)))
    // same project, different group is rejected for private models
    intercept[AccessControl.MeshAccessViolation](
      reg.checkSql(s, s"select * from ${runner.viewName("orders")}",
        AccessControl.Context("jaffle", Some("ops"))))
  }

  test("access enforcement covers python models: a cross-group dbt.ref is rejected") {
    val s = spark
    import s.implicits._
    Seq((1L, 150L)).toDF("id", "cents").createOrReplaceTempView("raw_orders")
    val root = writeProject(project ++ Map(
      "models/analytics/__py.yml" ->
        """version: 2
          |models:
          |  - name: py_leak
          |    group: analytics
          |""".stripMargin,
      "models/analytics/py_leak.py" ->
        """def model(dbt, session):
          |    df = dbt.ref("orders").df()
          |    return df
          |""".stripMargin))
    val (runner, _) = mkRunner(root)
    // the SQL DAG runs; the python model's ref to the private core-group
    // model must fail at resolution time, same as a SQL model would at
    // analysis time
    val e = intercept[Exception](runner.run())
    def violation(t: Throwable): Boolean = t match {
      case null => false
      case _: AccessControl.MeshAccessViolation => true
      case other => violation(other.getCause)
    }
    assert(violation(e), s"expected MeshAccessViolation, got $e")
  }

  test("snapshot: SCD2 timestamp strategy closes superseded versions") {
    val s = spark
    import s.implicits._
    val files = Map(
      "dbt_project.yml" -> "name: jaffle\n",
      "models/dim_status.sql" ->
        ("{{ config(materialized='snapshot', unique_key='id', updated_at='updated_at') }}\n" +
          "select * from source_status"))
    val root = writeProject(files)
    val (cfg, manifest) = ProjectLoader.load(root)
    val wh = Files.createTempDirectory("wh_snap")
    val runner = new Runner(s, manifest, cfg, wh, enforceAccess = false)

    Seq((1L, "new", "2024-01-01"), (2L, "new", "2024-01-01"))
      .toDF("id", "status", "updated_at").createOrReplaceTempView("source_status")
    runner.run()

    // id 1 changed later; id 3 appeared; id 2 unchanged
    Seq((1L, "shipped", "2024-02-01"), (2L, "new", "2024-01-01"),
      (3L, "new", "2024-02-01"))
      .toDF("id", "status", "updated_at").createOrReplaceTempView("source_status")
    val out = runner.run()("model.jaffle.dim_status")
      .select("id", "status", "dbt_valid_from", "dbt_valid_to")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), Option(r.getString(3))))
      .sortBy(t => (t._1, t._3))

    assert(out.toSeq == Seq(
      (1L, "new", "2024-01-01", Some("2024-02-01")), // closed version
      (1L, "shipped", "2024-02-01", None), // current
      (2L, "new", "2024-01-01", None), // untouched
      (3L, "new", "2024-02-01", None))) // inserted
  }

  test("source freshness: warn/error bounds classify max(loaded_at) age; table overrides source") {
    val s = spark
    import s.implicits._
    val files = Map(
      "dbt_project.yml" -> "name: jaffle\n",
      "models/__sources.yml" ->
        """version: 2
          |sources:
          |  - name: raw
          |    loaded_at_field: updated_at
          |    freshness:
          |      warn_after: {count: 1, period: hour}
          |      error_after: {count: 1, period: day}
          |    tables:
          |      - name: fresh_t
          |      - name: warn_t
          |      - name: error_t
          |        freshness:
          |          error_after: {count: 2, period: hour}
          |      - name: nofresh_t
          |        freshness:
          |""".stripMargin)
    val root = writeProject(files)
    val (cfg, manifest) = ProjectLoader.load(root)
    def mk(name: String, at: String): Unit =
      Seq((1L, java.sql.Timestamp.valueOf(at))).toDF("id", "updated_at")
        .createOrReplaceTempView(name)
    mk("fresh_t", "2024-06-01 11:30:00") // 30 min old → pass
    mk("warn_t", "2024-06-01 09:00:00") // 3 h old → warn (error at 1 day)
    mk("error_t", "2024-06-01 09:00:00") // 3 h old, table error bound 2 h → error
    val runner = new Runner(s, manifest, cfg,
      Files.createTempDirectory("wh_fresh"), enforceAccess = false)
    val out = runner.sourceFreshness(
      java.sql.Timestamp.valueOf("2024-06-01 12:00:00"))
    assert(out("source.jaffle.raw.fresh_t")._1 == "pass")
    assert(out("source.jaffle.raw.warn_t")._1 == "warn")
    assert(out("source.jaffle.raw.error_t")._1 == "error")
    // an explicit null freshness at the table OPTS OUT (dbt semantics)
    assert(!out.contains("source.jaffle.raw.nofresh_t"))
    assert(out("source.jaffle.raw.error_t")._2.get ==
      java.sql.Timestamp.valueOf("2024-06-01 09:00:00"))
  }

  test("--defer: unselected upstream serves from the state relation and never runs") {
    val s = spark
    import s.implicits._
    val files = Map(
      "dbt_project.yml" -> "name: jaffle\n",
      "models/stg_d.sql" -> "select * from missing_src_table", // would FAIL if run
      "models/mart_d.sql" -> "select id, v from {{ ref('stg_d') }} where id > 1")
    val root = writeProject(files)
    val (cfg, manifest) = ProjectLoader.load(root)
    // "prod" state: stg_d materialized as the prod_stg_d relation
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .createOrReplaceTempView("prod_stg_d")
    val state = manifest.copy(nodes = manifest.nodes.map {
      case (id, m) if m.name == "stg_d" =>
        id -> m.copy(relationName = Some("prod_stg_d"))
      case other => other
    })
    val wh = Files.createTempDirectory("wh_defer")
    val runner = new Runner(s, manifest, cfg, wh, enforceAccess = false,
      defer = Some(state))
    val out = runner.run(Some(Set("model.jaffle.mart_d")))
    // only the selected model ran; its ref read the prod relation
    assert(out.keySet == Set("model.jaffle.mart_d"))
    assert(out("model.jaffle.mart_d").orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((2L, "b"), (3L, "c")))
    // without defer the same selection pulls the broken upstream and fails
    val plain = new Runner(s, manifest, cfg,
      Files.createTempDirectory("wh_defer2"), enforceAccess = false)
    intercept[Exception](plain.run(Some(Set("model.jaffle.mart_d"))))
  }

  test("snapshot invalidate_hard_deletes: vanished keys close at the run clock; default keeps them open") {
    val s = spark
    import s.implicits._
    def proj(flag: String) = Map(
      "dbt_project.yml" -> "name: jaffle\n",
      "models/dim_hd.sql" ->
        (s"{{ config(materialized='snapshot', unique_key='id', " +
          s"updated_at='updated_at'$flag) }}\n" +
          "select * from source_hd"))
    // flag ON: the deleted key's version closes at the injected run clock
    val root = writeProject(proj(", invalidate_hard_deletes=true"))
    val (cfg, manifest) = ProjectLoader.load(root)
    val wh = Files.createTempDirectory("wh_hd")
    val at = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    val runner = new Runner(s, manifest, cfg, wh, enforceAccess = false,
      snapshotAt = Some(at))
    Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-01"))
      .toDF("id", "v", "updated_at").createOrReplaceTempView("source_hd")
    runner.run()
    // id 2 disappears from the source; id 1 unchanged
    Seq((1L, "a", "2024-01-01"))
      .toDF("id", "v", "updated_at").createOrReplaceTempView("source_hd")
    val out = runner.run()("model.jaffle.dim_hd")
      .select("id", "dbt_valid_to").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, None), // still current
      (2L, Some("2024-03-01 00:00:00")))) // hard-deleted: closed at run clock
    // default (no flag): the vanished key stays open — dbt's default
    val root2 = writeProject(proj(""))
    val (cfg2, manifest2) = ProjectLoader.load(root2)
    val wh2 = Files.createTempDirectory("wh_hd2")
    val runner2 = new Runner(s, manifest2, cfg2, wh2, enforceAccess = false,
      snapshotAt = Some(at))
    Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-01"))
      .toDF("id", "v", "updated_at").createOrReplaceTempView("source_hd")
    runner2.run()
    Seq((1L, "a", "2024-01-01"))
      .toDF("id", "v", "updated_at").createOrReplaceTempView("source_hd")
    val out2 = runner2.run()("model.jaffle.dim_hd")
      .select("id", "dbt_valid_to").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1)
    assert(out2.toSeq == Seq((1L, None), (2L, None)))
  }

  test("invalidate_hard_deletes rejects a numeric updated_at (epoch units are ambiguous)") {
    // A wall-clock Timestamp cast to LongType yields epoch SECONDS; if the
    // source column is epoch-nanos (the driver's events encoding) the
    // hard-closed rows' dbt_valid_to would be in different units than
    // dbt_valid_from. VERDICT r9 "What's wrong" #2: fail loudly instead.
    val s = spark
    import s.implicits._
    val root = writeProject(Map(
      "dbt_project.yml" -> "name: jaffle\n",
      "models/dim_hd_ns.sql" ->
        ("{{ config(materialized='snapshot', unique_key='id', " +
          "updated_at='updated_at', invalidate_hard_deletes=true) }}\n" +
          "select * from source_hd_ns")))
    val (cfg, manifest) = ProjectLoader.load(root)
    val runner = new Runner(s, manifest, cfg,
      Files.createTempDirectory("wh_hd_ns"), enforceAccess = false,
      snapshotAt = Some(java.sql.Timestamp.valueOf("2024-03-01 00:00:00")))
    val nanos = 1704067200000000000L // 2024-01-01 in epoch-nanos
    Seq((1L, "a", nanos), (2L, "b", nanos))
      .toDF("id", "v", "updated_at").createOrReplaceTempView("source_hd_ns")
    runner.run() // first run just stamps — no delete path yet
    Seq((1L, "a", nanos))
      .toDF("id", "v", "updated_at").createOrReplaceTempView("source_hd_ns")
    val e = intercept[Exception](runner.run())
    val msg = Option(e.getCause).getOrElse(e).getMessage
    assert(msg.contains("invalidate_hard_deletes"), msg)
    assert(msg.contains("bigint"), msg)
  }

  test("invalidate_hard_deletes composes with strategy=check") {
    val s = spark
    import s.implicits._
    val files = Map(
      "dbt_project.yml" -> "name: jaffle\n",
      "models/dim_chk.sql" ->
        ("{{ config(materialized='snapshot', unique_key='id', strategy='check', " +
          "check_cols=['v'], invalidate_hard_deletes=true) }}\n" +
          "select * from source_chk_hd"))
    val root = writeProject(files)
    val (cfg, manifest) = ProjectLoader.load(root)
    val wh = Files.createTempDirectory("wh_chk_hd")
    val at = java.sql.Timestamp.valueOf("2024-05-01 00:00:00")
    val runner = new Runner(s, manifest, cfg, wh, enforceAccess = false,
      snapshotAt = Some(at))
    Seq((1L, "x"), (2L, "y")).toDF("id", "v")
      .createOrReplaceTempView("source_chk_hd")
    runner.run()
    Seq((1L, "x")).toDF("id", "v").createOrReplaceTempView("source_chk_hd")
    val out = runner.run()("model.jaffle.dim_chk")
      .select("id", "dbt_valid_to").collect()
      .map(r => (r.getLong(0), Option(r.getTimestamp(1)))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, None), (2L, Some(at))))
  }

  test("merge_exclude_columns: existing keys keep their stored audit columns through a merge") {
    val s = spark
    import s.implicits._
    val files = Map(
      "dbt_project.yml" -> "name: jaffle\n",
      "models/orders_inc.sql" ->
        """{{ config(materialized='incremental', unique_key='id',
          |   merge_exclude_columns=['created_at']) }}
          |select id, status, created_at from src_orders
          |""".stripMargin)
    val root = writeProject(files)
    val (cfg, manifest) = ProjectLoader.load(root)
    val wh = Files.createTempDirectory("wh_mex")
    val runner = new Runner(s, manifest, cfg, wh, enforceAccess = false)
    Seq((1L, "new", "d1"), (2L, "new", "d1"))
      .toDF("id", "status", "created_at").createOrReplaceTempView("src_orders")
    runner.run()
    // the re-processed batch carries a LATER created_at (the classic
    // reprocessing artifact); id 1's status legitimately advanced, id 3
    // is new and takes the batch value whole
    Seq((1L, "shipped", "d2"), (2L, "new", "d2"), (3L, "new", "d2"))
      .toDF("id", "status", "created_at").createOrReplaceTempView("src_orders")
    val out = runner.run()("model.jaffle.orders_inc").orderBy("id")
      .as[(Long, String, String)].collect().toSeq
    assert(out == Seq(
      (1L, "shipped", "d1"), // status updated, created_at preserved
      (2L, "new", "d1"), // unchanged, created_at preserved
      (3L, "new", "d2"))) // new key: batch values whole
  }

  test("custom generic tests: {% test %} blocks compile to violation queries") {
    val s = spark
    import s.implicits._
    Seq((1L, 150L), (2L, -5L)).toDF("id", "cents")
      .createOrReplaceTempView("raw_orders")
    val files = Map(
      "dbt_project.yml" -> "name: jaffle\n",
      "models/__sources.yml" ->
        """version: 2
          |sources:
          |  - name: raw
          |    tables:
          |      - name: raw_orders
          |""".stripMargin,
      "models/__models.yml" ->
        """version: 2
          |models:
          |  - name: stg
          |    columns:
          |      - name: cents
          |        tests:
          |          - positive_values
          |          - always_passes
          |""".stripMargin,
      "models/stg.sql" -> "select * from {{ source('raw', 'raw_orders') }}",
      "tests/generic/positive_values.sql" ->
        ("{% test positive_values(model, column_name) %}\n" +
          "select * from {{ model }} where {{ column_name }} <= 0\n" +
          "{% endtest %}"),
      "tests/generic/always_passes.sql" ->
        "{% test always_passes(model) %}select true where false{% endtest %}")
    val root = writeProject(files)
    val (cfg, manifest) = ProjectLoader.load(root)
    val runner = new Runner(s, manifest, cfg,
      Files.createTempDirectory("wh_ct"), enforceAccess = false)
    runner.run()
    val results = runner.runTestsDetailed()
    assert(results("test.jaffle.positive_values_stg_cents")._2 == 1L) // the -5 row
    assert(results("test.jaffle.always_passes_stg_cents")._2 == 0L)
  }

  test("a {% for %}-generated union model renders through JinjaLite and runs") {
    val s = spark
    import s.implicits._
    Seq((1L, "us"), (2L, "eu")).toDF("id", "region")
      .createOrReplaceTempView("raw_a")
    Seq((3L, "ap")).toDF("id", "region").createOrReplaceTempView("raw_b")
    Seq((4L, "sa")).toDF("id", "region").createOrReplaceTempView("raw_c")
    val root = writeProject(Map(
      "dbt_project.yml" -> "name: looped\n",
      "models/__sources.yml" ->
        """version: 2
          |sources:
          |  - name: raw
          |    tables:
          |      - name: raw_a
          |      - name: raw_b
          |      - name: raw_c
          |""".stripMargin,
      // the dbt loop-union idiom the reference inherits from dbt-core
      // Jinja: per-shard selects stitched with UNION ALL, the separator
      // suppressed on the last iteration
      "models/all_shards.sql" ->
        """{% set shards = ['raw_a', 'raw_b', 'raw_c'] %}
          |{% for t in shards %}
          |select id, region, '{{ t }}' as shard from {{ source('raw', t) }}
          |{% if not loop.last %}union all{% endif %}
          |{% endfor %}""".stripMargin))
    val (runner, _) = mkRunner(root, enforceAccess = false)
    val out = runner.run()("model.looped.all_shards").orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), r.getString(2))).toSeq ==
      Seq((1L, "raw_a"), (2L, "raw_a"), (3L, "raw_b"), (4L, "raw_c")))
  }

  test("external sources: csv and json locations read as source tables") {
    val s = spark
    val root = writeProject(Map(
      "dbt_project.yml" -> "name: ext\n",
      "data/users.csv" ->
        """id,name
          |1,ada
          |2,linus
          |""".stripMargin,
      "data/events.json" ->
        """{"user_id": 1, "kind": "click"}
          |{"user_id": 1, "kind": "view"}
          |{"user_id": 2, "kind": "click"}
          |""".stripMargin,
      "models/__sources.yml" ->
        """version: 2
          |sources:
          |  - name: lake
          |    tables:
          |      - name: users
          |        external:
          |          location: data/users.csv
          |          file_format: csv
          |          options:
          |            header: "true"
          |            inferSchema: "true"
          |      - name: events
          |        external:
          |          location: data/events.json
          |          file_format: json
          |""".stripMargin,
      "models/clicks_by_user.sql" ->
        """select u.name, count(*) as n_clicks
          |from {{ source('lake', 'events') }} e
          |join {{ source('lake', 'users') }} u on u.id = e.user_id
          |where e.kind = 'click'
          |group by u.name""".stripMargin))
    val (cfg, manifest) = ProjectLoader.load(root)
    val wh = Files.createTempDirectory("graft_wh")
    val runner = new Runner(s, manifest, cfg, wh, enforceAccess = false,
      projectRoot = Some(root))
    val out = runner.run()("model.ext.clicks_by_user")
      .orderBy("name").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("ada", 1L), ("linus", 1L)))
  }

  test("external-source view registration is per-session and survives a dropped view") {
    // VERDICT r9 "What's wrong" #3: the registration cache used to key on
    // System.identityHashCode(spark) — a fresh session reusing a GC'd
    // session's hash could skip registration (table-not-found). Keying on
    // the session object + a tableExists re-check makes both paths safe.
    val s = spark
    val root = writeProject(Map(
      "dbt_project.yml" -> "name: extk\n",
      "data/u.csv" -> "id,name\n1,ada\n",
      "models/__sources.yml" ->
        """version: 2
          |sources:
          |  - name: lake
          |    tables:
          |      - name: u
          |        external:
          |          location: data/u.csv
          |          file_format: csv
          |          options:
          |            header: "true"
          |""".stripMargin,
      "models/m.sql" -> "select * from {{ source('lake', 'u') }}"))
    val (cfg, manifest) = ProjectLoader.load(root)
    def runIn(sess: org.apache.spark.sql.SparkSession): Long =
      new Runner(sess, manifest, cfg, Files.createTempDirectory("wh_extk"),
        enforceAccess = false, projectRoot = Some(root))
        .run()("model.extk.m").count()
    assert(runIn(s) == 1L)
    // same view name, DIFFERENT session (separate temp-view catalog):
    // must register afresh there, not trust the cached key
    assert(runIn(s.newSession()) == 1L)
    // view dropped out from under a session with a matching cache key:
    // the tableExists re-check must re-register rather than fail
    val view = "extk__ext__lake__u"
    assert(s.catalog.tableExists(view))
    s.catalog.dropTempView(view)
    assert(runIn(s) == 1L)
  }

  test("file_format sinks: csv and json table models round-trip schema and feed refs") {
    val s = spark
    import s.implicits._
    Seq((1L, 150L), (2L, 250L)).toDF("id", "cents")
      .createOrReplaceTempView("ff_raw")
    val root = writeProject(Map(
      "dbt_project.yml" -> "name: ff\n",
      "models/__sources.yml" ->
        """version: 2
          |sources:
          |  - name: raw
          |    tables:
          |      - name: ff_raw
          |""".stripMargin,
      "models/as_csv.sql" ->
        ("{{ config(materialized='table', file_format='csv') }}\n" +
          "select id, cast(cents / 100.0 as decimal(16,2)) as dollars " +
          "from {{ source('raw', 'ff_raw') }}"),
      "models/as_json.sql" ->
        ("{{ config(materialized='table', file_format='json') }}\n" +
          "select id, cents from {{ source('raw', 'ff_raw') }}"),
      "models/downstream.sql" ->
        """select c.id, c.dollars, j.cents
          |from {{ ref('as_csv') }} c join {{ ref('as_json') }} j on c.id = j.id""".stripMargin))
    val (cfg, manifest) = ProjectLoader.load(root)
    val wh = Files.createTempDirectory("graft_wh")
    val runner = new Runner(s, manifest, cfg, wh, enforceAccess = false)
    val out = runner.run()
    // files on disk ARE the declared formats
    def files(dir: String) =
      Files.list(wh.resolve(dir)).toArray.map(_.toString).toSeq
    assert(files("as_csv").exists(_.endsWith(".csv")), files("as_csv"))
    assert(files("as_json").exists(_.endsWith(".json")), files("as_json"))
    // schema round-trips through the sidecar: decimal survives csv
    val csvBack = out("model.ff.as_csv")
    assert(csvBack.schema("dollars").dataType.typeName == "decimal(16,2)")
    val down = out("model.ff.downstream").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDecimal(1).toString, r.getLong(2)))
    assert(down.toSeq == Seq((1L, "1.50", 150L), (2L, "2.50", 250L)))
    // read-catalog reuse honors the stored format
    val r2 = new Runner(s, manifest, cfg, wh, enforceAccess = false,
      readCatalog = true)
    assert(r2.run()("model.ff.as_csv").count() == 2)
    // non-table materializations refuse non-parquet formats
    val badRoot = writeProject(Map(
      "dbt_project.yml" -> "name: bad\n",
      "models/inc.sql" ->
        ("{{ config(materialized='incremental', file_format='csv') }}\n" +
          "select 1 as id")))
    val (bcfg, bman) = ProjectLoader.load(badRoot)
    val bad = new Runner(s, bman, bcfg, Files.createTempDirectory("graft_wh"),
      enforceAccess = false)
    val e = intercept[Exception](bad.run())
    assert(e.getMessage.contains("file_format"), e.getMessage)
  }

  test("parallel run: independent sibling models execute level-concurrently") {
    val s = spark
    import s.implicits._
    Seq((1L, 100L), (2L, 200L)).toDF("id", "cents")
      .createOrReplaceTempView("raw_orders")
    val files = Map(
      "dbt_project.yml" -> "name: jaffle\n",
      "models/__sources.yml" ->
        """version: 2
          |sources:
          |  - name: raw
          |    tables:
          |      - name: raw_orders
          |""".stripMargin,
      "models/base.sql" -> "select * from {{ source('raw', 'raw_orders') }}",
      "models/agg_a.sql" -> "select sum(cents) as s from {{ ref('base') }}",
      "models/agg_b.sql" -> "select count(*) as c from {{ ref('base') }}",
      "models/top.sql" ->
        "select s, c from {{ ref('agg_a') }} cross join {{ ref('agg_b') }}")
    val root = writeProject(files)
    val (cfg, manifest) = ProjectLoader.load(root)
    val runner = new Runner(s, manifest, cfg,
      Files.createTempDirectory("wh_par"), enforceAccess = false)
    val out = runner.run(parallelism = 4)
    assert(out.keySet.size == 4)
    val row = out("model.jaffle.top").collect().head
    assert((row.getLong(0), row.getLong(1)) == (300L, 2L))
  }

  test("ready queue: a model starts once its parents settle, not its whole level") {
    val root = writeProject(Map(
      "dbt_project.yml" -> "name: rq\n",
      "models/a.sql" -> "select 1 as id",
      "models/b.sql" -> "select id from {{ ref('a') }}",
      "models/s.sql" -> "select 2 as id"))
    val (runner, _) = mkRunner(root, enforceAccess = false)
    // s (depth 0) waits for b (depth 1): behind a barrier after each
    // depth, b could not start until s settled and s would time out
    val bStarted = new CountDownLatch(1)
    val (_, status) = runner.runWithStatus(parallelism = 2, gate = m =>
      m.name match {
        case "s" =>
          if (bStarted.await(20, TimeUnit.SECONDS)) None else Some("timeout")
        case "b" => bStarted.countDown(); None
        case _ => None
      })
    assert(status == Map("model.rq.a" -> "success", "model.rq.b" -> "success",
      "model.rq.s" -> "success"))
  }

  test("ready queue: the same statuses at parallelism 1 and 4") {
    val root = writeProject(Map(
      "dbt_project.yml" -> "name: rs\n",
      "models/bad.sql" -> "select * from missing_table_rs",
      "models/c1.sql" -> "select * from {{ ref('bad') }}",
      "models/c2.sql" -> "select * from {{ ref('c1') }}",
      "models/ok1.sql" -> "select 1 as id",
      "models/ok2.sql" -> "select id from {{ ref('ok1') }}"))
    val (runner, _) = mkRunner(root, enforceAccess = false)
    val expected = Map("model.rs.bad" -> "error", "model.rs.c1" -> "skipped",
      "model.rs.c2" -> "skipped", "model.rs.ok1" -> "success",
      "model.rs.ok2" -> "success")
    Seq(1, 4).foreach(p =>
      assert(runner.runWithStatus(parallelism = p)._2 == expected, s"parallelism $p"))
  }

  test("fail-fast at parallelism 4: running models settle, none starts after the failure") {
    val names = "a_bad" +: (1 to 7).map(i => s"m$i")
    val root = writeProject(Map("dbt_project.yml" -> "name: ff4\n") ++
      names.map(n => s"models/$n.sql" -> "select 1 as id"))
    val (runner, _) = mkRunner(root, enforceAccess = false)
    val boom = new IllegalStateException("boom")
    val othersIn = new CountDownLatch(3)
    val failed = new AtomicBoolean(false)
    val lateGates = new AtomicInteger(0)
    val inGate = new AtomicInteger(0)
    val e = intercept[IllegalStateException](runner.runWithStatus(
      parallelism = 4, continueOnError = false, gate = m => {
        if (failed.get) lateGates.incrementAndGet()
        if (m.name == "a_bad") {
          // fail while the three models started beside it are running
          othersIn.await(20, TimeUnit.SECONDS)
          failed.set(true)
          throw boom
        }
        inGate.incrementAndGet(); othersIn.countDown()
        Thread.sleep(200)
        inGate.decrementAndGet()
        None
      }))
    assert(e eq boom)
    assert(inGate.get == 0, "models running at the failure settle before the rethrow")
    Thread.sleep(300)
    assert(lateGates.get == 0, "no model starts after the failure")
  }

  test("table read-back: the written schema equals what parquet inference gives") {
    val root = writeProject(Map(
      "dbt_project.yml" -> "name: rb\n",
      "models/wide.sql" -> ("{{ config(materialized='table') }}\n" +
        """select cast(1.5 as decimal(18,2)) as d, date'2024-01-02' as dt,
          |  timestamp'2024-01-02 03:04:05' as ts,
          |  timestamp_ntz'2024-01-02 03:04:05' as tsn,
          |  cast('abc' as varchar(10)) as vc, array(1, 2) as arr,
          |  named_struct('a', 1, 'b', 'x') as st, 42 as nn""".stripMargin)))
    val (cfg, manifest) = ProjectLoader.load(root)
    val wh = Files.createTempDirectory("graft_wh_rb")
    val out = new Runner(spark, manifest, cfg, wh, enforceAccess = false)
      .run()("model.rb.wide")
    assert(out.schema == spark.read.parquet(wh.resolve("wide").toString).schema)
    assert(out.collect().head.getDecimal(0).toString == "1.50")
  }

  test("--read-catalog serves a warehouse table written without a schema sidecar") {
    val root = writeProject(Map(
      "dbt_project.yml" -> "name: ns\n",
      "models/t.sql" ->
        "{{ config(materialized='table') }}\nselect 7 as id, 'x' as v"))
    val (cfg, manifest) = ProjectLoader.load(root)
    val wh = Files.createTempDirectory("graft_wh_ns")
    val first = new Runner(spark, manifest, cfg, wh, enforceAccess = false)
      .run()("model.ns.t")
    // every table writes the sidecar; a warehouse from before that
    // change has none, and must still be served
    val sidecar = wh.resolve("t").resolve("_graft_schema.json")
    assert(Files.exists(sidecar))
    Files.delete(sidecar)
    val back = new Runner(spark, manifest, cfg, wh, enforceAccess = false,
      readCatalog = true).run()("model.ns.t")
    assert(back.schema == first.schema)
    assert(back.collect().map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((7, "x")))
    assert(!Files.exists(sidecar), "served from the catalog, not rebuilt")
  }

  test("seeds: CSV becomes a table and models ref() it") {
    val s = spark
    import s.implicits._
    val files = Map(
      "dbt_project.yml" -> "name: jaffle\nseed-paths: ['seeds']\n",
      "seeds/raw_customers.csv" -> "id,name\n1,alice\n2,bob\n",
      "models/stg_customers.sql" ->
        "select id, name from {{ ref('raw_customers') }} where id > 1")
    val root = writeProject(files)
    val (cfg, manifest) = ProjectLoader.load(root)
    assert(manifest.nodes.contains("seed.jaffle.raw_customers"))
    assert(manifest.nodes("model.jaffle.stg_customers").dependsOn.nodes ==
      Vector("seed.jaffle.raw_customers"))
    val runner = new Runner(s, manifest, cfg,
      Files.createTempDirectory("wh_seed"), enforceAccess = false,
      projectRoot = Some(root))
    val out = runner.run()
    assert(out("model.jaffle.stg_customers").as[(Int, String)].collect().toSeq ==
      Seq((2, "bob")))
  }

  test("incremental model: second run appends only post-watermark rows and merges by key") {
    val s = spark
    import s.implicits._
    val inc = Map(
      "dbt_project.yml" -> "name: jaffle\n",
      "models/events_agg.sql" ->
        """{{ config(materialized='incremental', unique_key='id') }}
          |select id, v from input_events
          |{% if is_incremental() %}
          |where id > (select max(id) from {{ this }})
          |{% endif %}""".stripMargin)
    val root = writeProject(inc)
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").createOrReplaceTempView("input_events")
    val (cfg, manifest) = ProjectLoader.load(root)
    val wh = Files.createTempDirectory("graft_wh_inc")
    val runner = new Runner(spark, manifest, cfg, wh, enforceAccess = false)
    runner.run()
    // new batch arrives; id 3 is new, ids 1-2 unchanged
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .createOrReplaceTempView("input_events")
    val out2 = runner.run()("model.jaffle.events_agg").orderBy("id")
    assert(out2.as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("snapshot strategy=check: versions open on column change, not on a timestamp") {
    val s = spark
    import s.implicits._
    val proj = Map(
      "dbt_project.yml" -> "name: ck\n",
      "models/cust.sql" ->
        """{{ config(materialized='snapshot', unique_key='id',
          |          strategy='check', check_cols=['status']) }}
          |select id, status, note from ck_input""".stripMargin)
    val root = writeProject(proj)
    val (cfg, manifest) = ProjectLoader.load(root)
    val wh = Files.createTempDirectory("graft_wh_ck")
    def at(t: String) = Some(java.sql.Timestamp.valueOf(t))
    // run 1: two customers
    Seq((1L, "active", "x"), (2L, "idle", "x"))
      .toDF("id", "status", "note").createOrReplaceTempView("ck_input")
    new Runner(spark, manifest, cfg, wh, enforceAccess = false,
      snapshotAt = at("2024-01-01 00:00:00")).run()
    // run 2: id 1 changes STATUS (tracked → new version); id 2 changes
    // only NOTE (untracked → no new version)
    Seq((1L, "churned", "x"), (2L, "idle", "y"))
      .toDF("id", "status", "note").createOrReplaceTempView("ck_input")
    val out = new Runner(spark, manifest, cfg, wh, enforceAccess = false,
      snapshotAt = at("2024-02-01 00:00:00")).run()("model.ck.cust")
      .orderBy("id", "dbt_valid_from")
      .select($"id", $"status", $"dbt_valid_from".cast("string"),
        $"dbt_valid_to".cast("string"))
      .as[(Long, String, String, Option[String])].collect().toSeq
    assert(out == Seq(
      (1L, "active", "2024-01-01 00:00:00", Some("2024-02-01 00:00:00")),
      (1L, "churned", "2024-02-01 00:00:00", None),
      (2L, "idle", "2024-01-01 00:00:00", None)))
  }

  test("seed column_types: declared types parse at read time, leading zeros survive") {
    val s = spark
    val proj = Map(
      "dbt_project.yml" -> "name: st\n",
      "seeds/codes.csv" -> "id,code,amount\n1,00742,10.5\n2,00013,2\n",
      "seeds/_seeds.yml" ->
        """version: 2
          |seeds:
          |  - name: codes
          |    config:
          |      column_types:
          |        code: varchar
          |        amount: decimal(10,2)
          |""".stripMargin,
      "models/use.sql" -> "select id, code, amount from {{ ref('codes') }}")
    val root = writeProject(proj)
    val (cfg, manifest) = ProjectLoader.load(root)
    val wh = Files.createTempDirectory("graft_wh_st")
    val out = new Runner(spark, manifest, cfg, wh, enforceAccess = false,
      projectRoot = Some(root)).run()("model.st.use").orderBy("id")
    assert(out.schema("code").dataType.typeName == "string")
    assert(out.schema("amount").dataType.sql == "DECIMAL(10,2)")
    // inference would have read 00742 as the integer 742
    assert(out.collect().map(_.getString(1)).toSeq == Seq("00742", "00013"))
  }

  test("full refresh rebuilds an incremental from scratch, discarding merged state") {
    val s = spark
    import s.implicits._
    val proj = Map(
      "dbt_project.yml" -> "name: fr\n",
      "models/acc.sql" ->
        """{{ config(materialized='incremental', unique_key='id') }}
          |select id, v from fr_input
          |{% if is_incremental() %}
          |where id > (select max(id) from {{ this }})
          |{% endif %}""".stripMargin)
    Seq((1L, "old")).toDF("id", "v").createOrReplaceTempView("fr_input")
    val root = writeProject(proj)
    val (cfg, manifest) = ProjectLoader.load(root)
    val wh = Files.createTempDirectory("graft_wh_fr")
    new Runner(spark, manifest, cfg, wh, enforceAccess = false).run()
    // source is RESTATED (id 1 corrected); a plain incremental run keeps
    // the stale row (id 1 is not past the watermark), a full refresh
    // rebuilds from the restated source
    Seq((1L, "new")).toDF("id", "v").createOrReplaceTempView("fr_input")
    val stale = new Runner(spark, manifest, cfg, wh, enforceAccess = false)
      .run()("model.fr.acc").as[(Long, String)].collect().toSeq
    assert(stale == Seq((1L, "old")))
    val fresh = new Runner(spark, manifest, cfg, wh, enforceAccess = false,
      fullRefresh = true).run()("model.fr.acc").as[(Long, String)].collect().toSeq
    assert(fresh == Seq((1L, "new")))
  }

  test("on_schema_change: append keeps old columns, sync drops them, fail aborts, ignore drops new ones") {
    val s = spark
    import s.implicits._
    def proj(policy: String) = Map(
      "dbt_project.yml" -> "name: sc\n",
      "models/t.sql" ->
        (s"{{ config(materialized='incremental', unique_key='id', on_schema_change='$policy') }}\n" +
          """select * from sc_input
            |{% if is_incremental() %}
            |where id > (select max(id) from {{ this }})
            |{% endif %}""".stripMargin))
    def runTwice(policy: String): org.apache.spark.sql.DataFrame = {
      Seq((1L, "a")).toDF("id", "v").createOrReplaceTempView("sc_input")
      val root = writeProject(proj(policy))
      val (cfg, manifest) = ProjectLoader.load(root)
      val wh = Files.createTempDirectory("graft_wh_sc")
      new Runner(spark, manifest, cfg, wh, enforceAccess = false).run()
      // second batch RENAMES v -> w (one added, one removed column)
      Seq((2L, "b")).toDF("id", "w").createOrReplaceTempView("sc_input")
      new Runner(spark, manifest, cfg, wh, enforceAccess = false)
        .run()("model.sc.t").orderBy("id")
    }
    val appended = runTwice("append_new_columns")
    assert(appended.schema.fieldNames.toSeq == Seq("id", "v", "w"))
    assert(appended.collect().map(r =>
      (r.getLong(0), Option(r.getString(1)), Option(r.getString(2)))).toSeq ==
      Seq((1L, Some("a"), None), (2L, None, Some("b"))))
    val synced = runTwice("sync_all_columns")
    assert(synced.schema.fieldNames.toSeq == Seq("id", "w"))
    assert(synced.collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSeq ==
      Seq((1L, None), (2L, Some("b"))))
    val e = intercept[IllegalStateException](runTwice("fail").collect())
    assert(e.getMessage.contains("on_schema_change=fail"))
    val e2 = intercept[IllegalStateException](runTwice("ignore").collect())
    assert(e2.getMessage.contains("no longer produces"))
  }

  test("insert_overwrite: an incremental batch replaces only its own partitions") {
    val s = spark
    import s.implicits._
    val proj = Map(
      "dbt_project.yml" -> "name: io\n",
      "models/daily.sql" ->
        """{{ config(materialized='incremental',
          |          incremental_strategy='insert_overwrite',
          |          partition_by='day') }}
          |select id, day, v from io_input
          |{% if is_incremental() %}
          |where day >= 2
          |{% endif %}""".stripMargin)
    Seq((1L, 1L, "a"), (2L, 2L, "b"))
      .toDF("id", "day", "v").createOrReplaceTempView("io_input")
    val root = writeProject(proj)
    val (cfg, manifest) = ProjectLoader.load(root)
    val wh = Files.createTempDirectory("graft_wh_io")
    val runner = new Runner(spark, manifest, cfg, wh, enforceAccess = false)
    runner.run()
    // new batch: day 2 CORRECTED (id 2 re-stated as v='B') plus day 3;
    // day 1 must remain untouched and day 2 must be replaced, not merged
    Seq((1L, 1L, "STALE"), (2L, 2L, "B"), (3L, 3L, "c"))
      .toDF("id", "day", "v").createOrReplaceTempView("io_input")
    val out = runner.run()("model.io.daily").orderBy("id")
      .as[(Long, Long, String)].collect().toSeq
    assert(out == Seq((1L, 1L, "a"), (2L, 2L, "B"), (3L, 3L, "c")))
  }

  test("partitioned unique_key merge rewrites ONLY the touched partitions") {
    val s = spark
    import s.implicits._
    val proj = Map(
      "dbt_project.yml" -> "name: pm\n",
      "models/facts.sql" ->
        """{{ config(materialized='incremental', unique_key='id',
          |          partition_by='day') }}
          |select id, day, v from pm_input
          |{% if is_incremental() %}
          |where day >= 2
          |{% endif %}""".stripMargin)
    Seq((1L, 1L, "a"), (2L, 2L, "b"), (3L, 2L, "c"))
      .toDF("id", "day", "v").createOrReplaceTempView("pm_input")
    val root = writeProject(proj)
    val (cfg, manifest) = ProjectLoader.load(root)
    val wh = Files.createTempDirectory("graft_wh_pm")
    val runner = new Runner(spark, manifest, cfg, wh, enforceAccess = false)
    runner.run()
    val day1 = wh.resolve("facts/day=1")
    def day1Files() = {
      import scala.jdk.CollectionConverters._
      Files.list(day1).iterator().asScala
        .map(p => p.getFileName.toString -> Files.getLastModifiedTime(p))
        .toSeq.sortBy(_._1)
    }
    val before = day1Files()
    // batch: key 2 UPDATED in day 2, key 4 new in day 3; day 1 untouched
    Seq((1L, 1L, "STALE"), (2L, 2L, "B"), (4L, 3L, "d"))
      .toDF("id", "day", "v").createOrReplaceTempView("pm_input")
    val out = runner.run()("model.pm.facts").orderBy("id")
      .as[(Long, Long, String)].collect().toSeq
    // MERGE semantics: key 2 replaced, key 3 kept (same partition), key 4
    // appended — and key 1 keeps its FIRST-run value because day 1 was
    // never read or rewritten
    assert(out == Seq((1L, 1L, "a"), (2L, 2L, "B"), (3L, 2L, "c"),
      (4L, 3L, "d")))
    assert(day1Files() == before,
      "untouched partition files were rewritten — the merge is not partition-scoped")
  }

  test("inline partition_by list literal parses into its column names") {
    val root = writeProject(Map(
      "dbt_project.yml" -> "name: pl\n",
      "models/t.sql" ->
        "{{ config(materialized='table', partition_by=['dt', 'region']) }}\nselect 1 as id"))
    val (_, m) = ProjectLoader.load(root)
    assert(m.nodes("model.pl.t").partitionBy == Vector("dt", "region"))
  }

  test("partition_by: Hive layout on disk, pruned downstream scans, exact schema round-trip") {
    val s = spark
    import s.implicits._
    val proj = Map(
      "dbt_project.yml" -> "name: pb\n",
      "models/base.sql" ->
        """{{ config(materialized='table', partition_by='region') }}
          |select id, region, code from pb_input""".stripMargin,
      "models/down.sql" ->
        "select id, code from {{ ref('base') }} where region = 'eu'")
    // code '007' keeps leading zeros ONLY if partition type inference is
    // not applied to it — it is a data column here, but region's string
    // type must also survive the round-trip (inference would try int on
    // numeric-looking partition values)
    Seq((1L, "us", "007"), (2L, "us", "008"), (3L, "eu", "009"))
      .toDF("id", "region", "code").createOrReplaceTempView("pb_input")
    val root = writeProject(proj)
    val (cfg, manifest) = ProjectLoader.load(root)
    assert(manifest.nodes("model.pb.base").partitionBy == Vector("region"))
    val wh = Files.createTempDirectory("graft_wh_pb")
    val runner = new Runner(spark, manifest, cfg, wh, enforceAccess = false)
    val out = runner.run()
    // 1. Hive directory layout
    assert(Files.exists(wh.resolve("base/region=us")) &&
      Files.exists(wh.resolve("base/region=eu")), "no partition directories")
    // 2. declared column order and types survive the read-back
    val base = out("model.pb.base")
    assert(base.schema.fieldNames.toSeq == Seq("id", "region", "code"))
    assert(base.schema("region").dataType.typeName == "string")
    assert(base.orderBy("id").collect().map(_.getString(2)).toSeq ==
      Seq("007", "008", "009"))
    // 3. the downstream filter prunes partitions at the scan
    val downPlan = s.read
      .schema(base.schema)
      .parquet(wh.resolve("base").toString)
      .filter($"region" === "eu")
      .queryExecution.executedPlan.toString
    assert(downPlan.contains("PartitionFilters: [isnotnull(region"),
      s"partition filter not pushed:\n$downPlan")
    assert(out("model.pb.down").collect().map(_.getLong(0)).toSeq == Seq(3L))
    // 4. --read-catalog reuses the partitioned table with the same schema
    val r2 = new Runner(spark, manifest, cfg, wh, enforceAccess = false,
      readCatalog = true)
    val cachedBase = r2.run()("model.pb.base")
    assert(cachedBase.schema.fieldNames.toSeq == Seq("id", "region", "code"))
    assert(cachedBase.count() == 3)
  }

  test("incremental_strategy='append' inserts as-is, even with unique_key; typos fail loudly") {
    val s = spark
    import s.implicits._
    val proj = Map(
      "dbt_project.yml" -> "name: ap\n",
      "models/log.sql" ->
        """{{ config(materialized='incremental', unique_key='id',
          |          incremental_strategy='append') }}
          |select id, v from ap_input""".stripMargin)
    Seq((1L, "a")).toDF("id", "v").createOrReplaceTempView("ap_input")
    val root = writeProject(proj)
    val (cfg, manifest) = ProjectLoader.load(root)
    val wh = Files.createTempDirectory("graft_wh_ap")
    val runner = new Runner(spark, manifest, cfg, wh, enforceAccess = false)
    runner.run()
    // re-seen key 1 must APPEND (dbt-spark semantics), not merge
    Seq((1L, "a2"), (2L, "b")).toDF("id", "v")
      .createOrReplaceTempView("ap_input")
    val out = runner.run()("model.ap.log").orderBy("id", "v")
      .as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "a"), (1L, "a2"), (2L, "b")))
    // unknown spelling: loud failure, never a silent merge
    val bad = writeProject(proj.updated("models/log.sql",
      "{{ config(materialized='incremental', unique_key='id', " +
        "incremental_strategy='insert_overwrte') }}\nselect id, v from ap_input"))
    val (cfg2, m2) = ProjectLoader.load(bad)
    val r2 = new Runner(spark, m2, cfg2,
      Files.createTempDirectory("graft_wh_ap2"), enforceAccess = false)
    val e = intercept[Exception](r2.run()) // rejected before ANY build
    assert(e.getMessage.contains("unknown incremental_strategy"), e.getMessage)
  }

  test("snapshot: NULL updated_at fails loudly instead of silently dropping keys") {
    val s = spark
    import s.implicits._
    val proj = Map(
      "dbt_project.yml" -> "name: sn\n",
      "models/dim.sql" ->
        ("{{ config(materialized='snapshot', unique_key='id', " +
          "updated_at='updated_at') }}\nselect * from sn_input"))
    Seq((1L, "a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
        (2L, "b", null.asInstanceOf[java.sql.Timestamp]))
      .toDF("id", "v", "updated_at").createOrReplaceTempView("sn_input")
    val root = writeProject(proj)
    val (cfg, manifest) = ProjectLoader.load(root)
    val runner = new Runner(spark, manifest, cfg,
      Files.createTempDirectory("graft_wh_sn"), enforceAccess = false)
    val e = intercept[Exception](runner.run())
    assert(e.getMessage.contains("NULL"), e.getMessage)
  }

  test("interrupted table swap recovers: the complete __tmp restores on the next run") {
    val s = spark
    import s.implicits._
    val proj = Map(
      "dbt_project.yml" -> "name: rc\n",
      "models/inc.sql" ->
        """{{ config(materialized='incremental', unique_key='id') }}
          |select id, v from rc_input""".stripMargin)
    Seq((1L, "a")).toDF("id", "v").createOrReplaceTempView("rc_input")
    val root = writeProject(proj)
    val (cfg, manifest) = ProjectLoader.load(root)
    val wh = Files.createTempDirectory("graft_wh_rc")
    val runner = new Runner(spark, manifest, cfg, wh, enforceAccess = false)
    runner.run()
    // simulate the crash window: the swap moved p aside and died before
    // moving the COMPLETE tmp in — p is gone, tmp holds the merged table
    val p = wh.resolve("inc")
    Files.move(p, wh.resolve("inc__tmp"))
    assert(!Files.exists(p))
    Seq((2L, "b")).toDF("id", "v").createOrReplaceTempView("rc_input")
    val out = runner.run()("model.rc.inc").orderBy("id")
      .as[(Long, String)].collect().toSeq
    // recovery restored the pre-crash table, so the new batch MERGED
    // into it instead of silently rebuilding from scratch
    assert(out == Seq((1L, "a"), (2L, "b")))
  }

  test("runWithStatus: a failed model skips its descendants, independent branches continue") {
    val s = spark
    import s.implicits._
    val proj = Map(
      "dbt_project.yml" -> "name: st\n",
      "models/bad.sql" -> "select * from missing_table_xyz",
      "models/child.sql" -> "select * from {{ ref('bad') }}",
      "models/ok.sql" -> "select 1 as id")
    val root = writeProject(proj)
    val (cfg, manifest) = ProjectLoader.load(root)
    val runner = new Runner(spark, manifest, cfg,
      Files.createTempDirectory("graft_wh_st"), enforceAccess = false)
    val (out, status) = runner.runWithStatus()
    assert(status("model.st.bad") == "error")
    assert(status("model.st.child") == "skipped", "descendant must not run")
    assert(status("model.st.ok") == "success")
    assert(out.keySet == Set("model.st.ok"))
    // the library contract stays fail-fast
    intercept[Exception](runner.run())
  }

  test("generic tests: unique ignores NULLs (dbt parity); accepted_values parses inline literals") {
    val s = spark
    import s.implicits._
    val proj = Map(
      "dbt_project.yml" -> "name: gt\n",
      "models/m.sql" -> "select * from gt_input",
      "models/_props.yml" ->
        """version: 2
          |models:
          |  - name: m
          |    columns:
          |      - name: k
          |        tests:
          |          - unique
          |      - name: status
          |        tests:
          |          - accepted_values:
          |              values: ['open', 'closed']
          |""".stripMargin)
    Seq((Some(1L), "open"), (None, "closed"), (None, "open"))
      .toDF("k", "status").createOrReplaceTempView("gt_input")
    val root = writeProject(proj)
    val (cfg, manifest) = ProjectLoader.load(root)
    val runner = new Runner(spark, manifest, cfg,
      Files.createTempDirectory("graft_wh_gt"), enforceAccess = false)
    runner.run()
    val results = runner.runTestsDetailed()
    // two NULL keys are NOT a uniqueness violation (dbt filters them)
    assert(results("test.gt.unique_m_k")._2 == 0L, results.toString)
    // both statuses sit in the accepted list, whatever YAML shape the
    // lite parser surfaced it as
    assert(results("test.gt.accepted_values_m_status")._2 == 0L, results.toString)
  }

  test("test severity/warn_if/error_if: warn statuses, thresholds, loud typos") {
    val proj = Map(
      "dbt_project.yml" -> "name: sev\n",
      "models/base.sql" ->
        "select * from values (1,'a'), (1,'a'), (2,'a'), (null,'b') as t(id, k)",
      "models/_props.yml" ->
        """version: 2
          |models:
          |  - name: base
          |    columns:
          |      - name: id
          |        tests:
          |          - not_null:
          |              config:
          |                severity: warn
          |          - unique:
          |              error_if: '>5'
          |              warn_if: '>10'
          |      - name: k
          |        tests:
          |          - unique:
          |              config:
          |                error_if: '> 0'
          |          - accepted_values:
          |              values: ['a', 'b']
          |              config:
          |                severity: banana
          |""".stripMargin)
    val root = writeProject(proj)
    val (runner, _) = mkRunner(root, enforceAccess = false)
    runner.run()
    val res = runner.runTestsDetailed()
    // severity: warn (nested config spelling) — 1 NULL id warns, never fails
    assert(res("test.sev.not_null_base_id") == ("warn", 1L), res.toString)
    // thresholds as direct kwargs: 1 duplicate id value meets neither
    // error_if '>5' nor warn_if '>10' → pass despite violations
    assert(res("test.sev.unique_base_id") == ("pass", 1L), res.toString)
    // default warn_if with explicit error_if '> 0' (space-tolerant): fail
    assert(res("test.sev.unique_base_k") == ("fail", 1L), res.toString)
    // a typo'd severity is a loud config error, not a silent pass
    assert(res("test.sev.accepted_values_base_k")._1 == "error", res.toString)
  }

  test("store_failures: audit parquet holds exactly the violating rows; config beats flag") {
    val proj = Map(
      "dbt_project.yml" -> "name: sf\n",
      "models/base.sql" ->
        "select * from values (1), (1), (2), (null) as t(id)",
      "models/_props.yml" ->
        """version: 2
          |models:
          |  - name: base
          |    columns:
          |      - name: id
          |        tests:
          |          - unique
          |          - not_null:
          |              config:
          |                store_failures: false
          |""".stripMargin)
    val root = writeProject(proj)
    val (runner, manifest) = mkRunner(root, enforceAccess = false)
    runner.run()
    val res = runner.runTestsDetailed(storeFailures = true)
    assert(res("test.sf.unique_base_id") == ("fail", 1L), res.toString)
    val uniquePath = runner.storeFailuresPath(
      manifest.tests("test.sf.unique_base_id"))
    assert(Files.exists(uniquePath))
    // the unique test's compiled frame: (value, count) per duplicated key
    val rows = spark.read.parquet(uniquePath.toString).collect()
    assert(rows.length == 1)
    assert(rows.head.getInt(0) == 1 && rows.head.getLong(1) == 2L, rows.toSeq)
    // per-test `store_failures: false` opts OUT of the CLI flag
    assert(!Files.exists(runner.storeFailuresPath(
      manifest.tests("test.sf.not_null_base_id"))))
    // and `store_failures: true` opts IN without the flag — rerunning
    // with flag=false still persists the configured test
    val root2 = writeProject(proj.updated("models/_props.yml",
      """version: 2
        |models:
        |  - name: base
        |    columns:
        |      - name: id
        |        tests:
        |          - not_null:
        |              config:
        |                store_failures: true
        |""".stripMargin))
    val (runner2, manifest2) = mkRunner(root2, enforceAccess = false)
    runner2.run()
    runner2.runTestsDetailed()
    val nnPath = runner2.storeFailuresPath(
      manifest2.tests("test.sf.not_null_base_id"))
    assert(Files.exists(nnPath))
    assert(spark.read.parquet(nnPath.toString).count() == 1L)
  }

  test("run-operation renders and executes a macro; unknown macro is loud") {
    val proj = Map(
      "dbt_project.yml" -> "name: op\n",
      "macros/make_view.sql" ->
        ("{% macro make_view(n, nm) %}" +
          "create or replace temporary view {{ nm }} as select {{ n }} as x" +
          "{% endmacro %}"))
    val root = writeProject(proj)
    val (runner, _) = mkRunner(root, enforceAccess = false)
    val rendered = runner.runOperation("make_view",
      Map("n" -> "7", "nm" -> "op_out"))
    assert(rendered.contains("select 7 as x"), rendered)
    assert(spark.table("op_out").collect().map(_.getInt(0)).toSeq == Seq(7))
    val e = intercept[IllegalArgumentException](runner.runOperation("nope"))
    assert(e.getMessage.contains("make_view"), e.getMessage)
  }

  test("unit tests: a genuine NUL char in output must not alias NULL") {
    val proj = Map(
      "dbt_project.yml" -> "name: nul\n",
      "models/m.sql" -> "select chr(0) as v",
      "models/_unit.yml" ->
        """version: 2
          |unit_tests:
          |  - name: nul_is_not_null
          |    model: m
          |    expect:
          |      rows:
          |        - {v: null}
          |""".stripMargin)
    val root = writeProject(proj)
    val (runner, _) = mkRunner(root, enforceAccess = false)
    runner.run()
    // chr(0) is a real one-char string; expecting NULL must FAIL (the
    // compare key escapes embedded NULs so they can't hit the sentinel)
    assert(runner.runUnitTests()("unit_test.nul.nul_is_not_null")._1 == "fail")
  }

  test("hooks: pre-hook runs before the model, post-hook after it, {{ this }} binds") {
    val proj = Map(
      "dbt_project.yml" -> "name: hk\n",
      // the model can only run if the pre-hook already created pre_mark;
      // the post-hook can only count {{ this }} if the model already
      // materialized — ordering is proven by construction
      "models/m1.sql" ->
        ("""{{ config(materialized='table', """ +
          """pre_hook="create or replace temp view pre_mark as select 42 as v", """ +
          """post_hook="create or replace temp view post_mark as select count(*) as n, 'x, y' as lit from {{ this }}") }}""" +
          "\nselect v as id from pre_mark"))
    val root = writeProject(proj)
    val (runner, _) = mkRunner(root, enforceAccess = false)
    val out = runner.run()
    assert(out("model.hk.m1").collect().map(_.getInt(0)).toSeq == Seq(42))
    assert(spark.table("post_mark").collect().head.getLong(0) == 1L)
    spark.catalog.dropTempView("pre_mark")
    spark.catalog.dropTempView("post_mark")
  }

  test("hooks: patch-YAML pre-hook lists run in order, before inline hooks") {
    val proj = Map(
      "dbt_project.yml" -> "name: hk2\n",
      "models/_props.yml" ->
        """version: 2
          |models:
          |  - name: m1
          |    config:
          |      pre-hook:
          |        - "create or replace temp view hk2_a as select 1 as v"
          |        - "create or replace temp view hk2_b as select v + 1 as v from hk2_a"
          |""".stripMargin,
      // inline hook runs AFTER the patch hooks (outer→inner), so it can
      // read hk2_b; the model then reads the inline hook's view
      "models/m1.sql" ->
        ("""{{ config(pre_hook="create or replace temp view hk2_c as select v + 1 as v from hk2_b") }}""" +
          "\nselect v from hk2_c"))
    val root = writeProject(proj)
    val (runner, _) = mkRunner(root, enforceAccess = false)
    val out = runner.run()
    assert(out("model.hk2.m1").collect().map(_.getInt(0)).toSeq == Seq(3))
    Seq("hk2_a", "hk2_b", "hk2_c").foreach(spark.catalog.dropTempView)
  }

  test("hooks: a failing post-hook fails the node and skips its descendants") {
    val proj = Map(
      "dbt_project.yml" -> "name: hk3\n",
      "models/bad.sql" ->
        ("""{{ config(post_hook="select * from hk3_no_such_view") }}""" +
          "\nselect 1 as id"),
      "models/child.sql" -> "select id from {{ ref('bad') }}")
    val root = writeProject(proj)
    val (runner, _) = mkRunner(root, enforceAccess = false)
    val (_, status) = runner.runWithStatus()
    assert(status("model.hk3.bad") == "error", status.toString)
    assert(status("model.hk3.child") == "skipped", status.toString)
  }

  test("project hooks: on-run-start precedes all nodes; on-run-end sees {{ results }}") {
    val proj = Map(
      "dbt_project.yml" ->
        """name: hk4
          |on-run-start: "create or replace temp view hk4_start as select 7 as v"
          |on-run-end:
          |  - "create or replace temp view hk4_end as select '{{ results }}' as r"
          |""".stripMargin,
      // only runnable if the start hook already created hk4_start
      "models/m1.sql" -> "select v from hk4_start")
    val root = writeProject(proj)
    val (runner, _) = mkRunner(root, enforceAccess = false)
    val (_, status) = runner.runWithStatus()
    assert(status("model.hk4.m1") == "success")
    val r = spark.table("hk4_end").collect().head.getString(0)
    assert(r == "model.hk4.m1=success", r)
    Seq("hk4_start", "hk4_end").foreach(spark.catalog.dropTempView)
  }

  test("project hooks: on-run-end reports error statuses too (continue-on-error)") {
    val proj = Map(
      "dbt_project.yml" ->
        """name: hk5
          |on-run-end: "create or replace temp view hk5_end as select '{{ results }}' as r"
          |""".stripMargin,
      "models/bad.sql" -> "select * from hk5_no_such_view",
      "models/ok.sql" -> "select 1 as id")
    val root = writeProject(proj)
    val (runner, _) = mkRunner(root, enforceAccess = false)
    val (_, status) = runner.runWithStatus()
    assert(status("model.hk5.bad") == "error")
    val r = spark.table("hk5_end").collect().head.getString(0)
    assert(r == "model.hk5.bad=error,model.hk5.ok=success", r)
    spark.catalog.dropTempView("hk5_end")
  }

  test("unit tests: given/expect fixtures pass, fail with a row diff, and mock sources") {
    val proj = Map(
      "dbt_project.yml" -> "name: ut\n",
      "models/_src.yml" ->
        """version: 2
          |sources:
          |  - name: raw
          |    tables:
          |      - name: raw_emails
          |""".stripMargin,
      "models/stg_emails.sql" ->
        "select id, email from {{ source('raw', 'raw_emails') }}",
      "models/dim_emails.sql" ->
        """select id, email,
          |  case when email like '%@%' then true else false end as is_valid
          |from {{ ref('stg_emails') }}""".stripMargin,
      "models/_unit.yml" ->
        """version: 2
          |unit_tests:
          |  - name: valid_email_flags
          |    model: dim_emails
          |    given:
          |      - input: ref('stg_emails')
          |        rows:
          |          - {id: 1, email: ok@example.com}
          |          - {id: 2, email: broken-at-example.com}
          |    expect:
          |      rows:
          |        - {id: 1, is_valid: true}
          |        - {id: 2, is_valid: false}
          |  - name: wrong_expectation
          |    model: dim_emails
          |    given:
          |      - input: ref('stg_emails')
          |        rows:
          |          - {id: 1, email: ok@example.com}
          |    expect:
          |      rows:
          |        - {id: 1, is_valid: false}
          |  - name: source_fixture
          |    model: stg_emails
          |    given:
          |      - input: source('raw', 'raw_emails')
          |        rows:
          |          - {id: 9, email: via@source.fixture}
          |    expect:
          |      rows:
          |        - {id: 9, email: via@source.fixture}
          |""".stripMargin)
    val s = spark
    import s.implicits._
    Seq((100L, "real@row.com")).toDF("id", "email")
      .createOrReplaceTempView("raw_emails")
    val root = writeProject(proj)
    val (runner, manifest) = mkRunner(root, enforceAccess = false)
    assert(manifest.unitTests.keySet == Set(
      "unit_test.ut.valid_email_flags", "unit_test.ut.wrong_expectation",
      "unit_test.ut.source_fixture"))
    runner.run()
    val res = runner.runUnitTests()
    assert(res("unit_test.ut.valid_email_flags") == ("pass", ""), res.toString)
    val (st, diff) = res("unit_test.ut.wrong_expectation")
    assert(st == "fail", res.toString)
    // the diff names both sides of the mismatch
    assert(diff.contains("unexpected") && diff.contains("missing"), diff)
    assert(res("unit_test.ut.source_fixture") == ("pass", ""), res.toString)
    // fixtures replaced the inputs ONLY inside the unit test: the real
    // model output still derives from the real source rows
    assert(runner.runModel(manifest.nodes("model.ut.dim_emails"))
      .collect().map(_.getLong(0)).toSeq == Seq(100L))
  }

  test("unit tests: unlisted fixture columns become typed NULLs of the real schema") {
    val proj = Map(
      "dbt_project.yml" -> "name: ut2\n",
      "models/base.sql" ->
        "select 1 as id, cast(2.5 as double) as score, 'x' as tag",
      "models/top.sql" ->
        "select id, coalesce(score, 0.0) as score2, tag from {{ ref('base') }}",
      "models/_unit.yml" ->
        """version: 2
          |unit_tests:
          |  - name: null_fill
          |    model: top
          |    given:
          |      - input: ref('base')
          |        rows:
          |          - {id: 7}
          |    expect:
          |      rows:
          |        - {id: 7, score2: 0.0, tag: null}
          |""".stripMargin)
    val root = writeProject(proj)
    val (runner, _) = mkRunner(root, enforceAccess = false)
    runner.run()
    val res = runner.runUnitTests()
    assert(res("unit_test.ut2.null_fill") == ("pass", ""), res.toString)
  }

  test("unit tests: fixture config errors are loud (typo column, bad cast, dup given)") {
    val proj = Map(
      "dbt_project.yml" -> "name: ut4\n",
      "models/base.sql" -> "select 1 as id, 'a' as email",
      "models/top.sql" -> "select id, email from {{ ref('base') }}",
      "models/_unit.yml" ->
        """version: 2
          |unit_tests:
          |  - name: typo_col
          |    model: top
          |    given:
          |      - input: ref('base')
          |        rows:
          |          - {id: 1, emial: a@b.c}
          |    expect:
          |      rows:
          |        - {id: 1, email: null}
          |  - name: bad_cast
          |    model: top
          |    given:
          |      - input: ref('base')
          |        rows:
          |          - {id: abc, email: x}
          |    expect:
          |      rows:
          |        - {id: null, email: x}
          |  - name: dup_given
          |    model: top
          |    given:
          |      - input: ref('base')
          |        rows:
          |          - {id: 1, email: x}
          |      - input: ref('base')
          |        rows:
          |          - {id: 2, email: y}
          |    expect:
          |      rows:
          |        - {id: 1, email: x}
          |""".stripMargin)
    val root = writeProject(proj)
    val (runner, _) = mkRunner(root, enforceAccess = false)
    runner.run()
    val res = runner.runUnitTests()
    // a typo'd fixture column must NOT silently become a typed-NULL test
    val (st1, d1) = res("unit_test.ut4.typo_col")
    assert(st1 == "error" && d1.contains("emial"), res.toString)
    // a literal that can't cast to the real column type is a config
    // error, not a silent NULL
    val (st2, d2) = res("unit_test.ut4.bad_cast")
    assert(st2 == "error" && d2.contains("abc"), res.toString)
    // duplicate given blocks for one input error (dbt rejects them too)
    val (st3, d3) = res("unit_test.ut4.dup_given")
    assert(st3 == "error" && d3.contains("duplicate"), res.toString)
  }

  test("unit tests: a dashed YAML name still runs (fixture views sanitize)") {
    val proj = Map(
      "dbt_project.yml" -> "name: ut3\n",
      "models/base.sql" -> "select 1 as id",
      "models/top.sql" -> "select id from {{ ref('base') }}",
      "models/_unit.yml" ->
        """version: 2
          |unit_tests:
          |  - name: dashed-name.check
          |    model: top
          |    given:
          |      - input: ref('base')
          |        rows:
          |          - {id: 42}
          |    expect:
          |      rows:
          |        - {id: 42}
          |""".stripMargin)
    val root = writeProject(proj)
    val (runner, _) = mkRunner(root, enforceAccess = false)
    runner.run()
    val res = runner.runUnitTests()
    assert(res("unit_test.ut3.dashed-name.check") == ("pass", ""), res.toString)
  }

  test("retry parity: a healthy table parent reuses its warehouse table, zero hooks") {
    var hooks = Vector.empty[String]
    val proj = Map(
      "dbt_project.yml" -> "name: hk7\n",
      "models/base.sql" ->
        ("""{{ config(materialized='table', post_hook="create or replace temp view hk7_audit as select 1 as fired") }}""" +
          "\nselect 7 as id"),
      "models/child.sql" -> "select id from {{ ref('base') }}")
    val root = writeProject(proj)
    val (cfg, manifest) = ProjectLoader.load(root)
    val wh = Files.createTempDirectory("graft_wh_hk7")
    // first run (the one that "succeeded" before the retry): hooks fire once
    val r1 = new Runner(spark, manifest, cfg, wh, enforceAccess = false,
      onHookRun = h => hooks :+= h)
    val (_, st1) = r1.runWithStatus()
    assert(st1.values.forall(_ == "success"), st1.toString)
    assert(hooks.size == 1, hooks.toString)
    // retry process: fresh Runner over the same warehouse; base is pulled
    // in only as a healthy parent → served from its table, NO hook re-fire
    val r2 = new Runner(spark, manifest, cfg, wh, enforceAccess = false,
      readCatalog = true, onHookRun = h => hooks :+= h)
    val (ran, st2) = r2.runWithStatus(
      Some(Set("model.hk7.base", "model.hk7.child")),
      reuseHealthy = Set("model.hk7.base"))
    assert(st2.values.forall(_ == "success"), st2.toString)
    assert(hooks.size == 1, s"parent hook re-fired on retry: $hooks")
    // the reused relation still resolves for the child
    assert(ran("model.hk7.child").collect().map(_.getInt(0)).toSeq == Seq(7))
  }

  test("retry parity: a corrupt reused table marks error + cascades skip, run completes") {
    val proj = Map(
      "dbt_project.yml" -> "name: hk8\n",
      "models/base.sql" -> "{{ config(materialized='table') }}\nselect 8 as id",
      "models/child.sql" -> "select id from {{ ref('base') }}")
    val root = writeProject(proj)
    val (cfg, manifest) = ProjectLoader.load(root)
    val wh = Files.createTempDirectory("graft_wh_hk8")
    new Runner(spark, manifest, cfg, wh, enforceAccess = false).runWithStatus()
    // corrupt the persisted table between runs: retry's reuse fast path
    // must mark base "error" (not crash out of runWithStatus) and skip
    // child through the normal parent cascade
    val dir = wh.resolve("base")
    import scala.jdk.CollectionConverters._
    Files.list(dir).iterator().asScala.toList.foreach(Files.delete)
    Files.writeString(dir.resolve("part-corrupt.parquet"), "not parquet")
    val r2 = new Runner(spark, manifest, cfg, wh, enforceAccess = false,
      readCatalog = true)
    val (_, st) = r2.runWithStatus(
      Some(Set("model.hk8.base", "model.hk8.child")),
      reuseHealthy = Set("model.hk8.base"))
    assert(st("model.hk8.base") == "error", st.toString)
    assert(st("model.hk8.child") == "skipped", st.toString)
  }

  test("retry parity: a model changed table->view ignores its stale table dir") {
    val proj = Map(
      "dbt_project.yml" -> "name: hk9\n",
      "models/base.sql" -> "{{ config(materialized='table') }}\nselect 1 as v",
      "models/child.sql" -> "select v from {{ ref('base') }}")
    val root = writeProject(proj)
    val (cfg, manifest) = ProjectLoader.load(root)
    val wh = Files.createTempDirectory("graft_wh_hk9")
    new Runner(spark, manifest, cfg, wh, enforceAccess = false).runWithStatus()
    assert(Files.exists(wh.resolve("base"))) // stale table dir persists
    // same project re-declared with base as a VIEW returning different
    // data: reuseHealthy must NOT serve the stale table
    val root2 = writeProject(proj.updated(
      "models/base.sql", "{{ config(materialized='view') }}\nselect 2 as v"))
    val (cfg2, m2) = ProjectLoader.load(root2)
    val r2 = new Runner(spark, m2, cfg2, wh, enforceAccess = false,
      readCatalog = true)
    val (ran, st) = r2.runWithStatus(
      Some(Set("model.hk9.base", "model.hk9.child")),
      reuseHealthy = Set("model.hk9.base"))
    assert(st.values.forall(_ == "success"), st.toString)
    assert(ran("model.hk9.child").collect().map(_.getInt(0)).toSeq == Seq(2),
      "retry served stale table data for a view-materialized model")
  }

  test("hooks: ephemeral models never run hooks") {
    var hooks = Vector.empty[String]
    val proj = Map(
      "dbt_project.yml" -> "name: hk6\n",
      "models/eph.sql" ->
        ("""{{ config(materialized='ephemeral', pre_hook="select * from hk6_missing") }}""" +
          "\nselect 1 as id"),
      "models/m.sql" -> "select id from {{ ref('eph') }}")
    val root = writeProject(proj)
    val (cfg, manifest) = ProjectLoader.load(root)
    val runner = new Runner(spark, manifest, cfg,
      Files.createTempDirectory("graft_wh_hk6"), enforceAccess = false,
      onHookRun = h => hooks :+= h)
    val (_, status) = runner.runWithStatus()
    // the pre-hook would throw if it ran; ephemeral skips it entirely
    assert(status.values.forall(_ == "success"), status.toString)
    assert(hooks.isEmpty, hooks.toString)
  }

  test("resolved config: inline file_format beats the patch, in SQL and Python models alike") {
    val s = spark
    import s.implicits._
    Seq((1L, "a")).toDF("id", "v").createOrReplaceTempView("rc_src")
    val root = writeProject(Map(
      "dbt_project.yml" -> "name: rcfg\n",
      "models/_props.yml" ->
        """version: 2
          |models:
          |  - name: sql_m
          |    config:
          |      materialized: view
          |      file_format: json
          |""".stripMargin,
      "models/sql_m.sql" ->
        ("{{ config(materialized='table', file_format='csv') }}\n" +
          "select * from rc_src"),
      "models/py_m.py" ->
        """def model(dbt, session):
          |    dbt.config(materialized="table", file_format="csv")
          |    df = dbt.ref("sql_m").df()
          |    return df
          |""".stripMargin))
    val (cfg, manifest) = ProjectLoader.load(root)
    // inline materialized still wins over the patch's
    assert(manifest.nodes("model.rcfg.sql_m").materialized == "table")
    val wh = Files.createTempDirectory("graft_wh_rcfg")
    val out = new Runner(spark, manifest, cfg, wh, enforceAccess = false).run()
    assert(out("model.rcfg.py_m").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a")))
    for (m <- Seq("sql_m", "py_m"))
      assert(Files.readString(wh.resolve(m).resolve("_graft_format")) == "csv", m)
  }

  test("accepted_values: a comma inside a quoted value does not split it") {
    val s = spark
    import s.implicits._
    Seq("x, y", "z").toDF("status").createOrReplaceTempView("av_input")
    val root = writeProject(Map(
      "dbt_project.yml" -> "name: av\n",
      "models/m.sql" -> "select * from av_input",
      "models/_props.yml" ->
        """version: 2
          |models:
          |  - name: m
          |    columns:
          |      - name: status
          |        tests:
          |          - accepted_values:
          |              values: "['x, y', 'z']"
          |""".stripMargin))
    val (runner, _) = mkRunner(root, enforceAccess = false)
    runner.run()
    assert(runner.runTestsDetailed().map { case (tid, (_, v)) => tid -> v } ==
      Map("test.av.accepted_values_m_status" -> 0L))
  }
}
