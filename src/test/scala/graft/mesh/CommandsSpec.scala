package graft.mesh

import graft.SparkFixture
import graft.core.changes._
import graft.core.model.Owner
import graft.core.yaml._
import org.scalatest.funsuite.AnyFunSuite

/** §3.2 `group` command: contracts are planned for exactly the models
  * whose PLANNED access is non-private — derived from the pending
  * ChangeSet, not from written state. */
class CommandsSpec extends AnyFunSuite with SparkFixture {

  test("split plans boundary contracts from materialized schemas") {
    val s = spark
    import s.implicits._
    val m = Fixtures.chain()
    Seq((1L, "x")).toDF("id", "v").createOrReplaceTempView("jaffle__stg_orders")
    val files = Map(
      "models/stg_orders.sql" -> "select * from {{ source('raw', 'orders') }}",
      "models/orders.sql" -> "select * from {{ ref('stg_orders') }}",
      "models/report.sql" -> "select count(*) from {{ ref('orders') }}")
    val cs = Commands.split(s, m, graft.core.model.ProjectConfig("jaffle"),
      "sub", Seq("stg_orders", "source.jaffle.raw.orders"), "sub_proj",
      files, name => s"jaffle__$name")
    // stg_orders is the sub-side boundary: public access + schema contract
    val contract = cs.changes.collectFirst {
      case rc: ResourceChange if rc.entityType == EntityType.Model &&
        rc.identifier == "stg_orders" && rc.data.contains("columns") => rc
    }.get
    assert(contract.path.startsWith("sub_proj/"))
    val cols = contract.data("columns").asList.items.map(_.asMap("name").asStr)
    assert(cols == Vector("id", "v"))
  }

  test("connect sweeps all pairs and resolves each dependency once") {
    import graft.core.model._
    val shared = Fixtures.model("up", "shared", "select 1",
      relation = Some("main.up.shared"))
    val up = Manifest("up", nodes = Map(shared.uniqueId -> shared))
    val src = SourceDefinition("source.down.ext.shared", "shared", "ext",
      "down", "models/__sources.yml", relationName = Some("main.up.shared"))
    val consumer = Fixtures.model("down", "consumer",
      "select * from {{ source('ext', 'shared') }}", deps = Seq(src.uniqueId))
    val down = Manifest("down",
      nodes = Map(consumer.uniqueId -> consumer),
      sources = Map(src.uniqueId -> src))
    val files = Map(
      ("down", "models/consumer.sql") ->
        "select * from {{ source('ext', 'shared') }}")
    val cs = Commands.connectPlans(Seq(up, down), (_, _) => false, _ => None,
      (p, f) => files((p, f)))("down")
    assert(cs.changes.exists {
      case fc: FileChange =>
        fc.data.exists(_.contains("{{ ref('up', 'shared') }}"))
      case _ => false
    })
    assert(cs.changes.exists {
      case rc: ResourceChange => rc.entityType == EntityType.Project &&
        rc.identifier == "up"
      case _ => false
    })
  }

  test("group plans access for all, contracts only for the boundary") {
    val s = spark
    import s.implicits._
    val m = Fixtures.chain()
    // materialize the boundary model's schema as its view
    Seq((1L, "x")).toDF("id", "v").createOrReplaceTempView("jaffle__orders")
    Seq((1L, 2L)).toDF("id", "c").createOrReplaceTempView("jaffle__stg_orders")

    val cs = Commands.group(s, m, "core", Owner(name = Some("t")),
      Set("model.jaffle.stg_orders", "model.jaffle.orders"),
      "models/_groups.yml", name => s"jaffle__$name")

    // the group itself + two access patches
    assert(cs.changes.exists {
      case rc: ResourceChange => rc.entityType == EntityType.Group
      case _ => false
    })
    val accessByModel = cs.changes.collect {
      case rc: ResourceChange if rc.entityType == EntityType.Model &&
        rc.data.contains("access") => rc.identifier -> rc.data("access").asStr
    }.toMap
    assert(accessByModel == Map("orders" -> "protected", "stg_orders" -> "private"))

    // contract planned ONLY for the protected boundary model, with the
    // schema of its materialized view
    val contracts = cs.changes.collect {
      case rc: ResourceChange if rc.entityType == EntityType.Model &&
        rc.data.contains("columns") => rc
    }
    assert(contracts.map(_.identifier) == Vector("orders"))
    val cols = contracts.head.data("columns").asList.items.map(_.asMap)
    assert(cols.map(_.apply("name").asStr) == Vector("id", "v"))
    // Spark typeName vocabulary (parseType round-trips long <-> bigint)
    assert(cols.map(_.apply("data_type").asStr) == Vector("long", "string"))
    val enforced = contracts.head.data("config").asMap("contract")
      .asMap("enforced")
    assert(enforced == YBool(true))
  }
}
