package graft
import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}

/** Optimization-round evidence dump: writes `explain("formatted")` for
  * registered queries to `<outDir>/<name>_<suffix>.txt`, under the SAME
  * session conf Bench uses ([[BenchConf.bench]] — shared, not copied,
  * per ADVICE r16: plan shape depends on AQE / split-size / object-agg /
  * shuffle-compression conf and on any SPARK_GRAFT_CONF overlay, so plans
  * must be captured under exactly the bench conditions).
  *
  * usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [name1,name2,...]
  * Names are exact (not prefixes); omit the list to dump every query.
  * Exits non-zero when any dump fails or the name filter matches nothing
  * (ADVICE r16: a swallowed per-query failure let evidence scripts treat
  * a bad run as complete).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, suffix, only) = args match {
      case Array(s, o, x)      => (s, o, x, Set.empty[String])
      case Array(s, o, x, sel) => (s, o, x, sel.split(',').toSet)
      case _ =>
        System.err.println("usage: graft.PlanDump <sfDir> <outDir> <suffix> [names]")
        sys.exit(2)
    }
    val spark = Harness.session(BenchConf.bench(Harness.cpus))
    new java.io.File(outDir).mkdirs()
    val picked = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .toSeq.sortBy(_._1)
    var failures = 0
    picked.foreach { case (name, fn) =>
      try {
        val txt = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        println(s"[plandump] $name -> ${name}_$suffix.txt")
      } catch { case e: Throwable =>
        failures += 1
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
      Harness.unpersistAll(spark, blocking = false)
    }
    spark.stop()
    if (picked.isEmpty) {
      System.err.println(s"[plandump] no queries match ${only.mkString(",")}")
      sys.exit(3)
    }
    println(s"[plandump] ${picked.size - failures}/${picked.size} dumped")
    if (failures > 0) sys.exit(1)
  }
}
