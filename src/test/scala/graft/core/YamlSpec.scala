package graft.core

import graft.core.yaml._
import org.scalatest.funsuite.AnyFunSuite
import java.util.Locale

class YamlSpec extends AnyFunSuite {

  test("parse preserves key order") {
    val m = Yaml.parseMap("b: 1\na: 2\nc:\n  - x\n  - y\n")
    assert(m.keys == Vector("b", "a", "c"))
    assert(m("c") == YList.of(YStr("x"), YStr("y")))
  }

  test("dump emits dbt-style 2-space indent with dash items") {
    val doc = YMap.of(
      "version" -> YInt(2),
      "models" -> YList.of(
        YMap.of("name" -> YStr("orders"), "columns" -> YList.of(
          YMap.of("name" -> YStr("id"), "data_type" -> YStr("integer"))))))
    val out = Yaml.dump(doc)
    assert(out ==
      """version: 2
        |models:
        |  - name: orders
        |    columns:
        |      - name: id
        |        data_type: integer
        |""".stripMargin)
    // round trip
    assert(Yaml.parseMap(out) == doc)
  }

  test("safeUpdate: deep merge, None deletes, siblings preserved") {
    val dest = Yaml.parseMap("a:\n  x: 1\n  y: 2\nb: keep\n")
    val src = YMap.of("a" -> YMap.of("x" -> YInt(9), "z" -> YStr("new"), "y" -> YNull))
    val merged = Merge.safeUpdate(dest, src)
    assert(merged("b") == YStr("keep"))
    val a = merged("a").asMap
    assert(a("x") == YInt(9))
    assert(!a.contains("y"))
    assert(a("z") == YStr("new"))
  }

  test("NamedList round trip with nested keyed lists") {
    val l = Yaml.parse(
      """- name: m1
        |  columns:
        |    - name: id
        |      tests: [unique]
        |- name: m2
        |""".stripMargin)
    val idx = Merge.toIndexed(l).asMap
    assert(idx.keys == Vector("m1", "m2"))
    assert(idx("m1").asMap("columns").asMap.keys == Vector("id"))
    assert(Merge.fromIndexed(idx) == l)
  }

  test("NamedList with custom index field (versions use v)") {
    val l = Yaml.parse("- v: 1\n- v: 2\n  defined_in: custom\n")
    val idx = Merge.toIndexed(l, "v").asMap
    assert(idx.keys == Vector("1", "2"))
    assert(Merge.fromIndexed(idx, "v") == l)
  }

  test("dump then parse returns every value unchanged, whatever it looks like") {
    val values: Seq[Y] = Seq(
      // control characters inside quotes are escaped, not folded or rejected
      YStr("line1\nline2\n"), YStr("cr\rtab\tnul\u0000bell\u0007del\u007f"),
      YStr("nel\u0085ls\u2028ps\u2029bom\ufeff"), YStr("quote\" back\\slash"),
      // strings YAML 1.1 would read as numbers, dates, bools or null
      YStr("42"), YStr("1.0"), YStr("1_000"), YStr("0x1F"), YStr("1e3"), YStr("-7"),
      YStr(".5"), YStr("2023-01-01"), YStr("2023-01-01 10:00:00"), YStr("true"),
      YStr("No"), YStr("null"), YStr("~"), YStr("="), YStr("<<"), YStr(" padded "),
      YStr(""), YStr("1.0.0"), YStr("plain words"),
      // doubles under a comma-decimal default locale
      YDbl(2.0), YDbl(0.5), YDbl(-3.0), YDbl(1e20), YInt(42), YBool(false), YNull,
      YList.of(YStr("1.0"), YStr("a\nb")), YMap.of("nested" -> YStr("2023-01-01")))
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try values.foreach { v =>
      val doc = YMap.of("v" -> v)
      withClue(Yaml.dump(doc)) { assert(Yaml.parseMap(Yaml.dump(doc)) == doc) }
    } finally Locale.setDefault(prev)
    // an unquoted date in a user's file keeps its source text, and survives
    // a round trip as that text
    val user = Yaml.parseMap("released: 2023-01-01\nat: 2023-01-01 10:00:00\n")
    assert(user == YMap.of("released" -> YStr("2023-01-01"), "at" -> YStr("2023-01-01 10:00:00")))
    assert(Yaml.parseMap(Yaml.dump(user)) == user)
  }
}
