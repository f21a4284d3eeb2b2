package graft
import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What Bench, Verify, Stress and PlanDump share: the session set-up for
  * a [[BenchConf]] profile, the timed full-plan run, checkpoint release,
  * and the JSON mapper, writer and final-line discipline for every
  * harness artifact. */
object Harness {
  /** Compact JSON, key order as given (callers pass ListMaps). */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .enable(JsonGenerator.Feature.WRITE_BIGDECIMAL_AS_PLAIN)

  /** `v` with exactly three decimals. Locale.ROOT: a comma-decimal
    * default locale (de_DE ...) would otherwise round-trip "125,832". */
  def num(v: Double): java.math.BigDecimal =
    new java.math.BigDecimal(String.format(java.util.Locale.ROOT, "%.3f", Double.box(v)))

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** SPARK_GRAFT_ONLY=d02,q17: dev-loop name-prefix subset; unset, every
    * query runs. */
  def only: Option[Seq[String]] = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)

  def repeat(default: Int): Int = math.max(1, sys.env.get("SPARK_GRAFT_REPEAT")
    .flatMap(_.toIntOption).getOrElse(default))

  /** The session for `profile` (overlay included), silenced and warm. */
  def session(profile: Seq[(String, String)]): SparkSession = {
    val spark = BenchConf.builderOf(profile).getOrCreate()
    // ERROR, not WARN: the per-run unpersist of lazily-checkpointed RDDs
    // emits an async "lineage truncated" WARN per block, and any WARN
    // that lands after Bench's final JSON line breaks the harness's
    // last-line parse (ADVICE r7). Real failures still surface — the
    // mains print them themselves via System.err.
    spark.sparkContext.setLogLevel("ERROR")
    // the per-run eager unpersist races in-flight task completions, and
    // DAGScheduler logs a benign multi-line "Failed to update accumulator
    // (Unknown class)" ERROR stack per race — 60 lines of it can land
    // directly ahead of the final JSON inside the harness's 2000-char
    // tail window. Query failures surface through the caught exception
    // per run, never through this logger.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.scheduler.DAGScheduler",
      org.apache.logging.log4j.Level.OFF)
    // warm-up, excluded from timings: the shuffle job initializes
    // codegen, the shuffle system and the broadcast machinery so the
    // first timed query isn't charged for one-time session setup
    import org.apache.spark.sql.functions.expr
    spark.range(1 << 20).groupBy(expr("id % 7")).count()
      .queryExecution.toRdd.count()
    spark
  }

  /** One timed execution of a registry query through the full-plan
    * `toRdd.count()` sink (a bare `df.count()` lets Catalyst prune away
    * the very columns being measured). Elapsed time is taken BEFORE any
    * cleanup — charging unpersist+GC to the measurement biased stress
    * ratios against Spark (ADVICE r15) — so cleanup stays with the
    * caller. A failure prints to stderr and returns ok = false. */
  def timed(spark: SparkSession, dir: String, tag: String, name: String,
      fn: (SparkSession, String) => DataFrame): (Double, Boolean) = {
    val t0 = System.nanoTime()
    val ok =
      try { fn(spark, dir).queryExecution.toRdd.count(); true }
      catch { case e: Throwable =>
        System.err.println(s"[$tag] $name failed: ${e.getMessage}")
        false
      }
    ((System.nanoTime() - t0) / 1e9, ok)
  }

  /** Drop every persisted RDD. Each query builds FRESH lazy-checkpoint
    * RDDs (Q.sortedNarrow and the shared-index ops) whose MEMORY_AND_DISK
    * blocks only free when the driver GCs the RDD object, so across a
    * sweep storage fills and later checkpoint-heavy queries pay
    * eviction/spill I/O unrelated to their plan (d24 0.8 s isolated vs
    * 15 s late in a full sweep). Blocks are never shared across runs. */
  def unpersistAll(spark: SparkSession, blocking: Boolean): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking))

  /** Write a JSON artifact, never silently: a stale committed file
    * surviving a failed write would masquerade as this run's evidence. */
  def writeJson(tag: String, path: String, json: String): Unit =
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[$tag] could not write $path: ${e.getMessage}")
    }

  /** Silence shutdown chatter, drain every outstanding checkpoint block
    * SYNCHRONOUSLY, stop Spark, and only then print `line` — nothing
    * (async unpersist WARNs, a DAGScheduler event-loop stack trace,
    * executor shutdown chatter) may interleave after the line the round
    * harness parses from its bounded tail window. build.sbt passes the
    * forked stdout through raw and suppresses sbt's [success] banner, so
    * this println IS the final line of the run's combined output. */
  def stopAndPrint(spark: SparkSession, line: String): Unit = {
    spark.sparkContext.setLogLevel("OFF")
    unpersistAll(spark, blocking = true)
    spark.stop()
    System.out.flush(); System.err.flush()
    println(line)
    System.out.flush()
  }
}
