package graft.mesh

import graft.core.changes._
import org.scalatest.funsuite.AnyFunSuite

/** D1–D10 regex rewrite passes (`utilities/references.py`; semantics
  * pinned by the reference's `tests/unit/test_update_ref_functions.py`). */
class ReferencesSpec extends AnyFunSuite {

  test("D1: sql ref rewrite, whitespace/quote tolerant, version kwarg kept") {
    assert(References.updateSqlRefs("select * from {{ ref('m') }}", "m", "p")
      == "select * from {{ ref('p', 'm') }}")
    assert(References.updateSqlRefs("""{{  ref( "m" )  }}""", "m", "p")
      == "{{ ref('p', 'm') }}")
    assert(References.updateSqlRefs("{{ ref('m', v=2) }}", "m", "p")
      == "{{ ref('p', 'm', v=2) }}")
    // other models untouched; already-qualified refs untouched
    assert(References.updateSqlRefs("{{ ref('other') }}", "m", "p")
      == "{{ ref('other') }}")
    assert(References.updateSqlRefs("{{ ref('q', 'm') }}", "m", "p")
      == "{{ ref('q', 'm') }}")
  }

  test("D2: sql source→ref rewrite") {
    assert(References.updateSqlSourceToRef(
      "from {{ source('raw', 'orders') }}", "raw", "orders", "up", "orders_model")
      == "from {{ ref('up', 'orders_model') }}")
    // different table untouched
    assert(References.updateSqlSourceToRef(
      "from {{ source('raw', 'other') }}", "raw", "orders", "up", "m")
      == "from {{ source('raw', 'other') }}")
  }

  test("D3/D4: python ref and source rewrites") {
    assert(References.updatePythonRefs("df = dbt.ref('m')", "m", "p")
      == """df = dbt.ref("p", "m")""")
    assert(References.updatePythonSourceToRef(
      "df = dbt.source('raw', 'orders')", "raw", "orders", "p", "m")
      == """df = dbt.ref("p", "m")""")
  }

  test("a {% set %}-bound SQL ref and a versioned Python ref are rewritten") {
    assert(References.updateSqlRefs(
      "{% set rel = ref('orders') %}\nselect * from {{ rel }}", "orders", "sub")
      == "{% set rel = ref('sub', 'orders') %}\nselect * from {{ rel }}")
    assert(References.updatePythonRefs(
      "def model(dbt, session):\n    return dbt.ref(\"orders\", v=1)\n", "orders", "sub")
      == "def model(dbt, session):\n    return dbt.ref(\"sub\", \"orders\", v=1)\n")
  }

  test("currentCode threads pending changes (compose-over-unwritten)") {
    val pending = ChangeSet() +
      FileChange(Operation.Update, "models/a.sql", Some("v2")) +
      FileChange(Operation.Update, "models/a.sql", Some("v3"))
    assert(References.currentCode(pending, "models/a.sql", _ => "v1") == "v3")
    assert(References.currentCode(pending, "models/b.sql", _ => "disk") == "disk")
  }

  test("D7: child-ref updates rewrite sql children and exposure ref strings") {
    val m = Fixtures.chain()
    val moved = Set("model.jaffle.orders")
    val files = Map(
      "models/report.sql" -> "select count(*) from {{ ref('orders') }}")
    val cs = References.childRefUpdates(m, "sub", moved, files)
    val fileChanges = cs.changes.collect { case fc: FileChange => fc }
    assert(fileChanges.map(_.data.get) ==
      Vector("select count(*) from {{ ref('sub', 'orders') }}"))
    val expChanges = cs.changes.collect { case rc: ResourceChange => rc }
    assert(expChanges.size == 1)
    assert(expChanges.head.entityType == EntityType.Exposure)
    // YAML ref strings stay bare (no {{ }}), matching the reference's
    // update_yml_resource_references output
    val refs = expChanges.head.data("depends_on").asList.items.map(_.asStr)
    assert(refs == Vector("ref('sub', 'orders')"))
  }

  test("D8: moved models rewrite their own refs to parents left behind") {
    val m = Fixtures.chain()
    val moved = Set("model.jaffle.orders") // depends on stg_orders (left behind)
    val files = Map(
      "models/orders.sql" -> "select * from {{ ref('stg_orders') }}")
    val cs = References.parentRefUpdates(m, "jaffle", moved, files)
    val fc = cs.changes.collect { case f: FileChange => f }
    assert(fc.map(_.data.get) ==
      Vector("select * from {{ ref('jaffle', 'stg_orders') }}"))
  }

  test("D8 chains on D7 output for the same file") {
    // two moved models in one file's lineage compose through the ChangeSet
    val m = Fixtures.chain()
    val moved = Set("model.jaffle.orders", "model.jaffle.report")
    // report moves too and depends on orders (also moved) — no rewrite for
    // it; orders depends on stg_orders (left behind) — rewritten once
    val files = Map(
      "models/orders.sql" -> "select * from {{ ref('stg_orders') }}",
      "models/report.sql" -> "select count(*) from {{ ref('orders') }}")
    val cs = References.parentRefUpdates(m, "jaffle", moved, files)
    val paths = cs.changes.collect { case f: FileChange => f.path }
    assert(paths == Vector("models/orders.sql"))
  }

  test("D10: macro ref rewrite only when first ref targets a left-behind model") {
    val mac = graft.core.model.MacroNode("macro.jaffle.helper", "helper",
      "jaffle", "macros/helper.sql", "")
    val text = "{% macro helper() %}select * from {{ ref('stg_orders') }}{% endmacro %}"
    val hit = References.macroRefUpdate(mac, "jaffle", Set("stg_orders"), _ => text)
    assert(hit.exists(_.data.get.contains("{{ ref('jaffle', 'stg_orders') }}")))
    val miss = References.macroRefUpdate(mac, "jaffle", Set("other"), _ => text)
    assert(miss.isEmpty)
  }
}
