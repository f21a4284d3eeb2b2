package graft.core

import graft.core.changes._
import graft.core.model.ProjectConfig
import graft.core.yaml._
import graft.mesh.SubprojectCreator
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** E2–E8 — YAML entry edit kernels + the staged, all-or-nothing processor
  * (`storage/file_content_editors.py`, `change_set_processor.py`). */
class EditorsSpec extends AnyFunSuite {

  test("upsertEntry adds a new model entry with version header and key order") {
    val doc = ResourceFileEditor.upsertEntry(YMap.empty, "models", "orders",
      YMap.of("columns" -> YList.of(YMap.of("name" -> YStr("id"))),
        "access" -> YStr("public"), "description" -> YStr("d")))
    assert(doc("version") == YInt(2))
    val entry = doc("models").asList.items.head.asMap
    // canonical order: name, description, access … columns last
    assert(entry.keys == Vector("name", "description", "access", "columns"))
  }

  test("upsertEntry deep-merges an existing entry without clobbering siblings") {
    val doc0 = Yaml.parseMap(
      """version: 2
        |models:
        |  - name: orders
        |    description: keep me
        |    columns:
        |      - name: id
        |        description: pk
        |""".stripMargin)
    val doc1 = ResourceFileEditor.upsertEntry(doc0, "models", "orders",
      YMap.of("access" -> YStr("public"),
        "columns" -> YList.of(
          YMap.of("name" -> YStr("id"), "data_type" -> YStr("integer")),
          YMap.of("name" -> YStr("total"), "data_type" -> YStr("double")))))
    val entry = doc1("models").asList.items.head.asMap
    assert(entry.get("description").map(_.asStr).contains("keep me"))
    assert(entry.get("access").map(_.asStr).contains("public"))
    val cols = entry("columns").asList.items.map(_.asMap)
    val id = cols.find(_.get("name").exists(_.asStr == "id")).get
    // NamedList merge by name: id keeps its description, gains data_type
    assert(id.get("description").map(_.asStr).contains("pk"))
    assert(id.get("data_type").map(_.asStr).contains("integer"))
    assert(cols.exists(_.get("name").exists(_.asStr == "total")))
  }

  test("upsertEntry with sourceName merges a table into the stanza's tables") {
    val doc0 = Yaml.parseMap(
      """version: 2
        |sources:
        |  - name: raw
        |    schema: raw
        |    tables:
        |      - name: payments
        |""".stripMargin)
    val doc1 = ResourceFileEditor.upsertEntry(doc0, "sources", "orders",
      YMap.of("name" -> YStr("raw"),
        "tables" -> YList.of(YMap.of("name" -> YStr("orders")))),
      sourceName = Some("raw"))
    val src = doc1("sources").asList.items.head.asMap
    assert(src.get("schema").map(_.asStr).contains("raw"))
    val tables = src("tables").asList.items.map(_.asMap("name").asStr)
    assert(tables.toSet == Set("payments", "orders"))
  }

  test("removeEntry: nested source-table removal with empty-source cleanup") {
    val doc0 = Yaml.parseMap(
      """version: 2
        |sources:
        |  - name: raw
        |    tables:
        |      - name: orders
        |""".stripMargin)
    // removing the last table drops the whole source; then only version
    // remains -> None signals file deletion
    assert(ResourceFileEditor.removeEntry(doc0, "sources", "orders", Some("raw")).isEmpty)

    val doc2 = Yaml.parseMap(
      """version: 2
        |sources:
        |  - name: raw
        |    tables:
        |      - name: orders
        |      - name: payments
        |""".stripMargin)
    val kept = ResourceFileEditor.removeEntry(doc2, "sources", "orders", Some("raw")).get
    val tables = kept("sources").asList.items.head.asMap("tables")
      .asList.items.map(_.asMap("name").asStr)
    assert(tables == Vector("payments"))
  }

  test("processor: plans execute against the filesystem; dry-run doesn't") {
    val root = Files.createTempDirectory("graft_editors")
    Files.createDirectories(root.resolve("models"))
    Files.writeString(root.resolve("models/a.sql"), "select 1")
    val cs = ChangeSet(Vector(
      FileChange(Operation.Move, "models/sub/a.sql", None, Some("models/a.sql")),
      FileChange(Operation.Add, "models/b.sql", Some("select 2")),
      ResourceChange(Operation.Add, EntityType.Model, "a", "models/_a.yml",
        YMap.of("access" -> YStr("public"))),
      FileChange(Operation.Append, "models/b.sql", Some("\n-- tail"))))

    new ChangeSetProcessor(root, dryRun = true).process(Seq(cs))
    assert(Files.exists(root.resolve("models/a.sql"))) // untouched

    new ChangeSetProcessor(root).process(Seq(cs))
    assert(!Files.exists(root.resolve("models/a.sql")))
    assert(Files.readString(root.resolve("models/sub/a.sql")) == "select 1")
    assert(Files.readString(root.resolve("models/b.sql")) == "select 2\n-- tail")
    val yml = Yaml.parseMap(Files.readString(root.resolve("models/_a.yml")))
    val entry = yml("models").asList.items.head.asMap
    assert(entry.get("access").map(_.asStr).contains("public"))
  }

  test("processor is fail-fast and wraps the failing step") {
    val root = Files.createTempDirectory("graft_editors2")
    Files.writeString(root.resolve("keep.sql"), "select 1")
    val before = tree(root)
    val bad = ChangeSet(Vector(
      FileChange(Operation.Move, "x.sql", None, Some("missing.sql")),
      FileChange(Operation.Add, "never.sql", Some("x"))))
    val logged = Vector.newBuilder[String]
    val e = intercept[ChangeSetProcessorException](
      new ChangeSetProcessor(root, log = logged += _).process(Seq(bad)))
    assert(e.getMessage.contains("x.sql"))
    assert(e.step == bad.changes.head)
    assert(e.getCause.isInstanceOf[java.nio.file.NoSuchFileException])
    assert(logged.result() == Vector("[1/2] Move file x.sql")) // later steps not reached
    assert(!Files.exists(root.resolve("never.sql")))
    // dry-run stages too: same failing step, nothing written
    val dry = intercept[ChangeSetProcessorException](
      new ChangeSetProcessor(root, dryRun = true).process(Seq(bad)))
    assert(dry.step == e.step)
    assert(tree(root) == before)
  }

  test("a step that fails to stage leaves a real split plan's tree byte-identical") {
    val root = Files.createTempDirectory("graft_split_fault")
    write(root, Map(
      "dbt_project.yml" -> "name: jaffle\n",
      "packages.yml" -> "packages: []\n",
      "models/stg_orders.sql" -> "select * from {{ source('raw', 'orders') }}",
      "models/orders.sql" -> "select * from {{ ref('stg_orders') }}",
      "models/report.sql" -> "select count(*) from {{ ref('orders') }}",
      "models/__models.yml" -> "models:\n  - name: orders\n    description: mart\n",
      "models/__exposures.yml" ->
        "exposures:\n  - name: dash\n    type: dashboard\n    depends_on:\n      - ref('orders')\n",
      "models/staging/__sources.yml" ->
        "sources:\n  - name: raw\n    tables:\n      - name: orders\n"))
    val plan = SubprojectCreator.initialize(graft.mesh.Fixtures.chain(),
      ProjectConfig("jaffle"), "sub", Set("model.jaffle.orders", "model.jaffle.report",
        "exposure.jaffle.dash"), "sub_proj", p => Files.readString(root.resolve(p)))
    val ghost = FileChange(Operation.Move, "sub_proj/ghost.sql", None, Some("models/ghost.sql"))
    val before = tree(root)
    val e = intercept[ChangeSetProcessorException](
      new ChangeSetProcessor(root).process(Seq(plan + ghost)))
    assert(e.step == ghost)
    assert(tree(root) == before)
    // the same plan without the fault does rewrite the tree
    new ChangeSetProcessor(root).process(Seq(plan))
    assert(Files.exists(root.resolve("sub_proj/models/orders.sql")))
    assert(!Files.exists(root.resolve("models/orders.sql")))
  }

  test("a commit that fails midway rolls back every replaced, created and deleted path") {
    val root = Files.createTempDirectory("graft_commit_fault")
    write(root, Map(
      "models/_m.yml" -> "version: 2\nmodels:\n  - name: a\n",
      "models/a.sql" -> "select 1",
      "models/old.sql" -> "select 0",
      "blocker" -> "a regular file",
      "full/f.sql" -> "select 9"))
    val before = tree(root)
    val edits = Vector(
      ResourceChange(Operation.Update, EntityType.Model, "a", "models/_m.yml",
        YMap.of("access" -> YStr("public"))),
      FileChange(Operation.Update, "models/a.sql", Some("select 2")),
      FileChange(Operation.Add, "new/deep/b.sql", Some("select 3")),
      DirectoryChange(Operation.Add, "made/here"),
      FileChange(Operation.Remove, "models/old.sql"))
    // the write phase fails on the last file: its parent is a regular file
    val blocked = FileChange(Operation.Add, "blocker/x.sql", Some("x"))
    val e = intercept[ChangeSetProcessorException](
      new ChangeSetProcessor(root).process(Seq(ChangeSet(edits :+ blocked))))
    assert(e.step == blocked)
    assert(tree(root) == before)
    // the delete phase fails after models/old.sql is gone: a non-empty directory
    val stuck = FileChange(Operation.Remove, "full")
    val e2 = intercept[ChangeSetProcessorException](
      new ChangeSetProcessor(root).process(Seq(ChangeSet(edits :+ stuck))))
    assert(e2.step == stuck)
    assert(tree(root) == before)
  }

  test("same-path order: a Move then an Append to the moved file, bytes kept exactly") {
    val root = Files.createTempDirectory("graft_order_move")
    val raw = Array[Byte](-1, -2, 0) ++ "sql".getBytes("UTF-8") // not valid UTF-8
    Files.createDirectories(root.resolve("models"))
    Files.write(root.resolve("models/a.sql"), raw)
    new ChangeSetProcessor(root).process(Seq(ChangeSet(Vector(
      FileChange(Operation.Move, "sub/models/a.sql", None, Some("./models/a.sql")),
      FileChange(Operation.Append, "sub/models/a.sql", Some("\n-- tail")),
      FileChange(Operation.Copy, "sub/models/copy.sql", None, Some("sub/models/a.sql"))))))
    val expected = raw ++ "\n-- tail".getBytes("UTF-8")
    assert(tree(root) == Map(
      "" -> None, "models" -> None, "sub" -> None, "sub/models" -> None,
      "sub/models/a.sql" -> Some(expected.toVector),
      "sub/models/copy.sql" -> Some(expected.toVector)))
  }

  test("same-path order: a Remove that empties a file, then an Add re-creates it") {
    val root = Files.createTempDirectory("graft_order_readd")
    write(root, Map("models/_m.yml" -> "version: 2\nmodels:\n  - name: a\n"))
    new ChangeSetProcessor(root).process(Seq(ChangeSet(Vector(
      ResourceChange(Operation.Remove, EntityType.Model, "a", "models/_m.yml"),
      // `./models/_m.yml` and `models/_m.yml` are one path
      ResourceChange(Operation.Add, EntityType.Model, "b", "./models/_m.yml",
        YMap.of("access" -> YStr("public")))))))
    assert(text(root) == Map("models/_m.yml" ->
      "version: 2\nmodels:\n  - name: b\n    access: public\n"))
  }

  test("same-path order: a file Update to a .yml, then a ResourceChange on it") {
    val root = Files.createTempDirectory("graft_order_update")
    write(root, Map("models/_m.yml" -> "version: 2\nmodels:\n  - name: old\n"))
    new ChangeSetProcessor(root).process(Seq(ChangeSet(Vector(
      FileChange(Operation.Update, "models/_m.yml",
        Some("models:\n  - name: a\n    description: from text\n")),
      ResourceChange(Operation.Update, EntityType.Model, "a", "models/_m.yml",
        YMap.of("access" -> YStr("public")))))))
    assert(text(root) == Map("models/_m.yml" ->
      "version: 2\nmodels:\n  - name: a\n    description: from text\n    access: public\n"))
  }

  test("yaml dump round-trips through parse") {
    val doc = YMap.of(
      "version" -> YInt(2),
      "models" -> YList.of(YMap.of(
        "name" -> YStr("orders"),
        "config" -> YMap.of("contract" -> YMap.of("enforced" -> YBool(true))),
        "columns" -> YList.of(
          YMap.of("name" -> YStr("id"), "data_type" -> YStr("integer"))))))
    assert(Yaml.parseMap(Yaml.dump(doc)) == doc)
  }

  private def write(root: Path, files: Map[String, String]): Unit =
    files.foreach { case (rel, body) =>
      Files.createDirectories(root.resolve(rel).getParent)
      Files.writeString(root.resolve(rel), body)
    }

  /** Every path under `root` (relative), with its bytes when a file. */
  private def tree(root: Path): Map[String, Option[Vector[Byte]]] =
    Using.resource(Files.walk(root))(_.iterator.asScala.map { p =>
      root.relativize(p).toString ->
        Option.when(Files.isRegularFile(p))(Files.readAllBytes(p).toVector)
    }.toMap)

  /** The files under `root` as text. */
  private def text(root: Path): Map[String, String] = tree(root).collect {
    case (rel, Some(bytes)) => rel -> new String(bytes.toArray, "UTF-8")
  }
}
