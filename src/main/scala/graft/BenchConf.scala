package graft
import org.apache.spark.sql.SparkSession

/** The ONE source of harness session conf, as two profiles: `bench`
  * (Bench, Verify, PlanDump and the perfbench worker) and `scale`
  * (Stress). Plan shape depends on AQE / split-size / object-agg /
  * shuffle-compression conf, so the plan that is timed, verified and
  * dumped as evidence must come from the same list (ADVICE r16: PlanDump
  * once hand-copied a subset of Bench's builder and silently dumped
  * default-conf plans).
  */
object BenchConf {
  /** The bench profile at `local[cpus]`. Rationale for each pinned value
    * lives here once. */
  def bench(cpus: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // bench files are single small parquet files; the default 128 MB
    // split size would scan each on ONE core. At production scale the
    // default is right — here the knob re-widens the scan stage.
    "spark.sql.files.maxPartitionBytes" -> (2 * 1024 * 1024).toString,
    "spark.sql.files.openCostInBytes" -> (128 * 1024).toString,
    // single-JVM shuffles land in the OS page cache — lz4 on the
    // exchange path is pure CPU overhead here (no network, no cold
    // reads) and costs window/sort-heavy queries 2×. On a real cluster
    // compression stays ON (the default); this mirrors the oracle's
    // uncompressed in-memory exchanges for a like-for-like single-node
    // comparison. The crossover is measured, not guessed: see `scale`.
    "spark.shuffle.compress" -> "false",
    "spark.shuffle.spill.compress" -> "false",
    // the posting-list index (Dedup.allPostings) is an object
    // aggregate; the default fallback (128 in-memory groups) degrades
    // it to a per-partition sort almost immediately. Buffers are
    // HARD-bounded by the CappedCollect cap (τ+1 ids, typical 1–2),
    // so millions of in-memory groups fit easily; on a cluster, size
    // this with executor memory.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" ->
      (4 * 1024 * 1024).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** The scale profile (graft.Stress): bench at 32 cores with four
    * overrides (later entries win). sf0.1's exchanges are tiny, while the
    * 10x-160x pair/wedge frames are exactly where compression and
    * partition count flip sign: once an exchange carries pair-scale
    * frames (g22's 70M wedge rows at 10x lineitem) compression is a win,
    * d02 and g22 both measured >2x swings on the partition count alone,
    * and g22's 137M-row wedge shuffle amplified the gap with compression
    * off (SURVEY §6, rounds 13-14). */
  val scale: Seq[(String, String)] = bench("32") ++ Seq(
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "256",
    "spark.shuffle.compress" -> "true",
    "spark.shuffle.spill.compress" -> "true",
    "spark.sql.files.maxPartitionBytes" -> (8 * 1024 * 1024).toString)

  /** Dev-loop overlay SPARK_GRAFT_CONF="k=v;k=v", applied LAST so an
    * experiment can override any pinned knob; unset in measured runs. */
  def overlay: Seq[(String, String)] = sys.env.get("SPARK_GRAFT_CONF").toSeq
    .flatMap(_.split(";")).map(_.split("=", 2))
    .collect { case Array(k, v) => k -> v }

  /** The builder every graft session starts from: the harness mains and
    * the perfbench worker (through `builderOf`), the `graft` CLI and the
    * test fixture. It registers [[graft.engine.LocalFs]] for `file:`
    * paths. That has to happen in the session conf, before the first
    * `file:` lookup: Hadoop caches one FileSystem per scheme JVM-wide. */
  def base(): SparkSession.Builder = SparkSession.builder()
    .config("spark.hadoop.fs.file.impl", classOf[graft.engine.LocalFs].getName)

  /** A session builder for `profile` plus the overlay. */
  def builderOf(profile: Seq[(String, String)]): SparkSession.Builder = {
    val b = base()
    (profile ++ overlay).foreach { case (k, v) => b.config(k, v) }
    b
  }

  /** Bench's session builder at `local[cpus]`, overlay included. */
  def builder(cpus: String): SparkSession.Builder = builderOf(bench(cpus))
}
