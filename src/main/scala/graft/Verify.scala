package graft
import java.nio.file.{Files, Path, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. Runs under the
  * `bench` profile ([[BenchConf.bench]], SPARK_GRAFT_CONF overlay
  * included): the plan that is timed is the plan that is verified. */
object Verify {
  /** The query → oracle SQL map as JSON. Jackson escapes quotes,
    * backslashes and every control char — a raw tab or CR in SQL would
    * make a strict reader (Python's json.load) reject the file, and the
    * correctness gate with it. */
  def writeOracleSql(file: Path, sql: Map[String, String]): Unit =
    Files.writeString(file, Harness.json.writeValueAsString(sql))

  def main(args: Array[String]): Unit = {
    // 2-arg form (driver contract) dumps every query; an optional third
    // arg restricts to comma-separated name PREFIXES for fast local
    // iteration (matching Bench's SPARK_GRAFT_ONLY semantics: "d,g21"
    // selects every d-family query plus g21).
    val (sfDir, outDir, only) = args match {
      case Array(s, o)       => (s, o, Set.empty[String])
      case Array(s, o, sel)  => (s, o, sel.split(',').toSet)
      case _ =>
        System.err.println(
          "usage: graft.Verify <sfDir> <outDir> [name1,name2,...]")
        sys.exit(2)
    }
    def picked(name: String) = only.isEmpty || only.exists(name.startsWith)
    val spark = Harness.session(BenchConf.bench(Harness.cpus))
    new java.io.File(outDir).mkdirs()
    var nFailed = 0
    SparkEntry.queries.filter { case (name, _) => picked(name) }.foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): coalesce propagates a 1-task
      // constraint up an entire shuffle-free pipeline (the codec/text
      // kernel queries run on one of the 32 cores); the extra tiny
      // shuffle of the final rows is irrelevant to the sorted-rows
      // oracle compare
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        nFailed += 1
        // a failure BEFORE the overwrite kicked in leaves the PREVIOUS
        // run's parquet in place — localverify would read the stale dir
        // and report a silent PASS on a broken query; delete it so the
        // gate reads red
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$outDir/$name"))
      }
      Harness.unpersistAll(spark, blocking = false)
    }
    writeOracleSql(Paths.get(s"$outDir/oracle_sql.json"),
      SparkEntry.oracleSql.filter { case (k, _) => picked(k) })
    spark.stop()
    // a nonzero exit makes a failed dump unmissable even when only the
    // tail of stdout/stderr is captured
    if (nFailed > 0) {
      System.err.println(s"[verify] $nFailed quer${if (nFailed == 1) "y" else "ies"} failed")
      sys.exit(1)
    }
  }
}
