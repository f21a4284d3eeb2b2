package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.Locale
import org.scalatest.funsuite.AnyFunSuite

/** The harness core shared by Bench, Verify, Stress and PlanDump, without
  * a Spark session: the conf profiles as lists, and the JSON artifacts and
  * the outlier-re-run reference reader as pure functions. */
class HarnessSpec extends AnyFunSuite {

  private def conf(kvs: String): Seq[(String, String)] =
    kvs.trim.split("\\s+").toSeq.map(_.split("=", 2)).map { case Array(k, v) => k -> v }

  test("bench profile pins the bench conf list; scale is the Stress conf") {
    assert(BenchConf.bench("32") == conf("""
      spark.master=local[32] spark.sql.shuffle.partitions=32
      spark.sql.adaptive.enabled=true spark.sql.adaptive.coalescePartitions.enabled=true
      spark.sql.files.maxPartitionBytes=2097152 spark.sql.files.openCostInBytes=131072
      spark.shuffle.compress=false spark.shuffle.spill.compress=false
      spark.sql.objectHashAggregate.sortBased.fallbackThreshold=4194304
      spark.sql.session.timeZone=UTC spark.ui.enabled=false"""))
    assert(BenchConf.bench("8").take(2) == conf("spark.master=local[8] spark.sql.shuffle.partitions=8"))
    // the conf every committed STRESS_LOCAL.json tier was measured under
    val stress = conf("""
      spark.master=local[32] spark.sql.shuffle.partitions=32 spark.sql.adaptive.enabled=true
      spark.sql.adaptive.coalescePartitions.initialPartitionNum=256
      spark.shuffle.compress=true spark.shuffle.spill.compress=true
      spark.sql.files.maxPartitionBytes=8388608 spark.sql.files.openCostInBytes=131072
      spark.sql.objectHashAggregate.sortBased.fallbackThreshold=4194304
      spark.sql.session.timeZone=UTC spark.ui.enabled=false""").toMap
    // scale (later entries win, as on the builder) adds only the coalesce
    // flag Stress left at Spark's default, with that default's value
    val coalesce = org.apache.spark.sql.internal.SQLConf.COALESCE_PARTITIONS_ENABLED
    assert(coalesce.defaultValue.contains(true))
    assert(BenchConf.scale.toMap == stress + (coalesce.key -> "true"))
  }

  /** 231 entries: varied name lengths, values on .xxx5 rounding edges and
    * ties, every 11th query failed (half with a positive partial min),
    * 9 re-runs (one failed) — enough to overflow every stdout bound. */
  private def sweep: Bench.Sweep = {
    val names = (0 until 231).map(i => f"q$i%03d_" + "abcdefghijklmnop".take(i % 17))
    val results = names.zipWithIndex.map { case (n, i) =>
      val ok = i % 11 != 3
      val v = (i * 7919 % 10007) / 1000.0 * (1 + i % 3 * 10) + 0.0005
      (n, if (ok || i % 2 == 1) v else -1.0, ok)
    }
    val reruns = Seq(5, 30, 55, 80, 105, 130, 155, 180, 205).map { i =>
      names(i) -> Bench.Rerun(4.5 + i / 10.0, if (i == 80) -1.0 else 1.25 + i / 100.0,
        1.0 + i / 1000.0, i / 37.0)
    }
    val loads = names.zipWithIndex.map { case (n, i) => n -> (i % 50) / 7.0 }
    Bench.Sweep(3, 1.47, 2.394, "32", "testdata/sf0.1", "BENCH_LOCAL.json",
      results, reruns, loads)
  }

  private def golden(name: String): String =
    new String(getClass.getResourceAsStream(s"/graft/$name").readAllBytes(), UTF_8)

  // the goldens were emitted by the earlier string-concatenating
  // renderers on the same inputs: the artifacts the round harness and
  // tools/ parse must not change by a byte
  test("Bench and Stress JSON match the golden output byte for byte") {
    val s = sweep
    assert(s.full + "\n" == golden("bench_full.golden.json"))
    assert(s.line + "\n" == golden("bench_stdout.golden.txt"))
    assert(s.line.length <= 2000, "the stdout line must fit the 2000-char tail window")
    // each kept entry reserves a separator: a 300-char entry misses the 300 bound
    def failedLine(n: Int) =
      Bench.Sweep(3, 0, 0, "32", "sf", "out", Seq(("x" * n, 1.0, false)), Nil, Nil).line
    assert(failedLine(297).contains("\"failed_omitted\":0,"))
    assert(failedLine(298).contains("\"failed\":[],\"failed_omitted\":1,"))
    val tiers = Seq(
      Stress.Tier("li10x", "data/li", Nil) -> Seq(("g21", 12.3456, true), ("g22", 7.0, false)),
      Stress.Tier("docs10x", "data/docs", Nil) -> Seq(("d02", 0.0005, true)))
    assert(Stress.render("all", 1, tiers.take(1), partial = true) ==
      """{"metric":"stress_total","value":12.346,"unit":"sec","runs_per_query":1,"timing":"min","tier":"all","partial":true,"tiers":{"li10x":{"dir":"data/li","queries":{"g21":12.346,"g22":-1}}},"failed":["g22"]}""")
    assert(Stress.render("all", 1, tiers, partial = false) ==
      """{"metric":"stress_total","value":12.346,"unit":"sec","runs_per_query":1,"timing":"min","tier":"all","tiers":{"li10x":{"dir":"data/li","queries":{"g21":12.346,"g22":-1}},"docs10x":{"dir":"data/docs","queries":{"d02":0.001}}},"failed":["g22"]}""")
  }

  test("numbers render with a '.' decimal point under a de_DE default locale") {
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(String.format("%.3f", Double.box(125.832)) == "125,832") // the hazard
      val one = Bench.Sweep(3, 0.5, 0.25, "8", "sf", "out.json",
        Seq(("a", 125.832, true)), Nil, Seq("a" -> 1.5))
      assert(one.full.contains("\"value\":125.832,"))
      assert(one.full.contains("\"query_load\":{\"a\":1.500}"))
      assert(sweep.line + "\n" == golden("bench_stdout.golden.txt"))
    } finally Locale.setDefault(prev)
  }

  test("oracle_sql.json round-trips SQL with control chars, quotes and backslashes") {
    val sql = Map(
      "q_tab" -> "select\t1",
      "q_cr" -> "select 1\r\nfrom t",
      "q_ctl" -> "select '\u0001' as c",
      "q_quote" -> "select \"x\" from t where s = 'a\\b'")
    val f = Files.createTempFile("oracle_sql", ".json")
    try {
      Verify.writeOracleSql(f, sql)
      val txt = Files.readString(f)
      // Python's strict json.load rejects raw control chars inside strings
      assert(!txt.exists(_ < ' '))
      assert(Harness.json.readValue(txt, classOf[Map[String, String]]) == sql)
    } finally Files.delete(f)
  }

  test("refMins reads the committed BENCH_LOCAL.json and says why it is off") {
    val committed = Paths.get("BENCH_LOCAL.json")
    val t = Harness.json.readTree(committed.toFile)
    val (sf, cpus) = (t.path("sf").asText, t.path("cpus").asText)
    val mins = Bench.refMins(committed, sf, cpus).fold(fail(_), identity)
    assert(mins.nonEmpty && mins.values.forall(_ > 0))
    assert(mins.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(Bench.refMins(committed, sf + "x", cpus).left.exists(_.contains("is sf")))
    assert(Bench.refMins(committed, sf, cpus + "0").left.exists(_.contains("is cpus")))
    val dir = Files.createTempDirectory("refmins")
    try {
      assert(Bench.refMins(dir.resolve("none.json"), sf, cpus).left.exists(_.startsWith("no ")))
      val bad = Files.writeString(dir.resolve("bad.json"), "{\"sf\":")
      assert(Bench.refMins(bad, sf, cpus).left.exists(m => m.startsWith("unreadable") && !m.contains('\n')))
      // failed (-1) entries are no reference
      val f = Files.writeString(dir.resolve("f.json"),
        "{\"cpus\":4,\"queries\":{\"a\":1.5,\"b\":-1},\"sf\":\"s\"}")
      assert(Bench.refMins(f, "s", "4") == Right(Map("a" -> 1.5)))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("only a full default run at the default cpus may write BENCH_LOCAL.json") {
    val sf = Bench.defaultSfDir
    assert(Bench.isFullDefaultRun(None, sf, None, 3, "32"))
    assert(Bench.isFullDefaultRun(None, sf, Some(" "), 3, "32"))
    assert(!Bench.isFullDefaultRun(None, sf, None, 3, "8"))
    assert(!Bench.isFullDefaultRun(Some(Seq("d02")), sf, None, 3, "32"))
    assert(!Bench.isFullDefaultRun(None, sf + "x", None, 3, "32"))
    assert(!Bench.isFullDefaultRun(None, sf, Some("k=v"), 3, "32"))
    assert(!Bench.isFullDefaultRun(None, sf, None, 1, "32"))
  }
}
