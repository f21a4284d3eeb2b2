package graft

import scala.collection.immutable.ListMap

/** The repeatable scale gate (VERDICT r14 item 6): runs the
  * stress-measured families against the deterministic scaled substrates
  * under /tmp (regenerate with `python3 tools/gen_stress_data.py`) with
  * the [[BenchConf.scale]] profile — shuffle compression ON and a production-sized
  * `initialPartitionNum`, the measured crossover from Bench's small-SF
  * pins — and writes the full result map to STRESS_LOCAL.json.
  *
  * Knobs: SPARK_GRAFT_STRESS_TIER=10|40|all (default 10 — the 40x tiers
  * run minutes); SPARK_GRAFT_ONLY=g21,d02 name-prefix subset. Keep the
  * DEFAULT 8 GiB heap: a round-16 SPARK_DRIVER_MEM=32g run measured no
  * benefit (an 8g run in the adjacent window matched it within host
  * drift), and memory pressure at 100x+ is handled the production way
  * instead — per-tier conf ([[Tier.conf]]: li160x lowers the object-agg
  * sort-based fallback so the basket/support aggregations SPILL), which
  * bounds per-task state instead of growing the heap;
  * SPARK_GRAFT_CONF="k=v;k=v" overlay; SPARK_GRAFT_REPEAT (default 1 —
  * single-run timings, these queries run tens of seconds and the
  * JVM/codegen warmup is amortized by the per-tier warm load).
  * Compare against DuckDB on the SAME dirs:
  * `python3 tools/time_oracle.py /tmp/scaleli/n10x <oracle.json>` with a
  * matching subset oracle map from a Verify run. */
object Stress {

  /** `conf`: per-tier runtime SQL-conf overlay (applied via
    * `spark.conf.set` before the tier, reverted after) — the r13 d02
    * lesson made standard: partition count must scale with tier volume,
    * because AQE only coalesces DOWN from initialPartitionNum and the
    * per-task object-agg/collect buffers are the memory constraint at
    * 100×+ (li160x OOM'd a 8 GiB heap at 256 partitions: 32M posting
    * keys / 256 = 125k × 8 KB buffers × 30 concurrent tasks). */
  final case class Tier(label: String, dir: String, queries: Seq[String],
      conf: Map[String, String] = Map.empty)

  /** 10x tiers: the default gate. Round 16 widened docs10x to the
    * previously-unmeasured families — MinHash banding (d03/d21), media
    * near-dup (m09/m12) and real-codec VAD (m16), the jaccardPairs graph
    * consumers (g11/g13/g18), and the text floor family (t46/t48/t49/
    * t50) — and added the scaled-events tier for q77: together these
    * are the 8 queries VERDICT r15 held as "weak" (sf0.1 stage-floor
    * ratios with no committed at-scale evidence) plus the band-key
    * fan-out shapes its item 3 called out. */
  val tiers10: Seq[Tier] = Seq(
    Tier("li10x", "/tmp/scaleli/n10x",
      Seq("g21_link_prediction", "g22_two_hop_reach")),
    // round 17 widened docs10x with the three expensive never-probed
    // queries VERDICT r16 item 3 named: d01 (two-level md5 digest agg),
    // g14/g17 (edge-substrate riders — threshold stability and triangle
    // support)
    Tier("docs10x", "/tmp/scaledocs/n50000",
      Seq("d01_exact_dedup", "d02_ngram_jaccard", "d03_minhash_lsh",
        "d21_band_sweep", "g01_components", "g04_pagerank",
        "g11_source_modularity", "g13_knn_degree", "g14_threshold_stability",
        "g15_contamination_ppr", "g17_edge_support",
        "g18_incremental_components", "g20_lpa_communities",
        "m09_video_neardup", "m12_perceptual_neardup",
        "m16_audio_vad", "t46_dsir_selection", "t48_token_gini",
        "t49_pps_sample", "t50_cms_audit")),
    Tier("ev10x", "/tmp/scaleev/n10x", Seq("q77_watermark_planner")),
    Tier("emb10x", "/tmp/scaleemb/n20000",
      Seq("s02_ivf_ann", "s29_ivfpq_retrieval")))

  /** 40x+ tiers: the extrapolation check (run count documented in
    * SURVEY §6; minutes of wall clock). li160x (round 16) pushes the
    * wedge family one tier past its 40x parity point — the pair frame
    * passes 500M rows there. */
  val tiers40: Seq[Tier] = Seq(
    // li40x ships the spill fallback too: an in-window A/B measured g21
    // 50.3 -> 35.6 s (-29%) with it (g22 30.5 -> 33.7, within drift) —
    // the support aggregation's in-heap hash pressure starts paying
    // before it starts OOMing
    Tier("li40x", "/tmp/scaleli/n40x",
      Seq("g21_link_prediction", "g22_two_hop_reach"),
      conf = Map(
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "131072")),
    // li160x per-tier conf — the spill-aware crossover (round 16, two
    // OOM'd full-window runs taught it): the SCALE conf's
    // fallbackThreshold=4M entries is itself a small-tier pin — it lets
    // the basket/support ObjectHashAggregate hold ~750k collect-set
    // entries per merge task in-heap (AQE's parallelismFirst coalesce
    // caps useful partition counts near defaultParallelism, so raising
    // initialPartitionNum alone did NOT shrink per-task state), and 30
    // concurrent tasks of that is an 8 GiB JVM dead at stage 807. At
    // 160x the aggregation must SPILL: a 128k-entry fallback bounds
    // per-task heap regardless of partition geometry, and a smaller
    // advisory size keeps post-coalesce parallelism up.
    Tier("li160x", "/tmp/scaleli/n160x",
      Seq("g21_link_prediction", "g22_two_hop_reach"),
      conf = Map(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "2048",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m",
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "131072")),
    // d02/g13/t49 extend the 10x trend lines (round 16: their sf0.1→10x
    // ratios collapsed 3.9→2.2x / 96→9x — the 40x point pins whether the
    // oracle's superlinear growth crosses Spark's near-flat line)
    // m12 extends the banded-media trend line (round 16: the 10x pair
    // re-measured settled at 5.47/4.07 = 1.35x after two negative shape
    // A/Bs — the 40x point pins whether band-exchange economics hold as
    // the bucket census grows)
    Tier("docs40x", "/tmp/scaledocs/n200000",
      Seq("d02_ngram_jaccard", "g01_components", "g13_knn_degree",
        "t49_pps_sample", "m12_perceptual_neardup")),
    Tier("ev40x", "/tmp/scaleev/n40x", Seq("q77_watermark_planner")),
    // docs160x (round 17, VERDICT r16 item 5): pins the crossover the
    // 100 TB brief extrapolates from the 10x/40x trend lines, and
    // re-confirms the r13 d02 endpoint (single-process baseline OOM'd at
    // this tier) on current code. Ships li160x's spill-aware conf: the
    // posting/pair object aggregations must SPILL rather than hold
    // per-task hash state proportional to tier volume (guide §5 — bounded
    // per-task state, not bigger heap).
    Tier("docs160x", "/tmp/scaledocs/n800000",
      Seq("d02_ngram_jaccard", "g13_knn_degree", "t49_pps_sample"),
      conf = Map(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "2048",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m",
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "131072")),
    // s29 stays on the 10x tier only: its centroid/codebook sets are
    // FIXED FRACTIONS of the corpus (vec_id % 100 / % 37 — the oracle
    // mirrors them), so training cost grows quadratically BY DEFINITION
    // in both engines (Spark 40.6s vs DuckDB 72.1s at 10x, ratio 0.56);
    // at 50x it is a ~17 min query that measures the spec, not the plan.
    Tier("emb50x", "/tmp/scaleemb/n100000", Seq("s02_ivf_ann")))

  /** The STRESS_LOCAL.json document: per-tier (name, min seconds, ok)
    * results, `partial` until the last selected tier is in. A failed
    * query reads -1 and is excluded from the total. */
  def render(tierSel: String, repeat: Int,
      results: Seq[(Tier, Seq[(String, Double, Boolean)])], partial: Boolean): String =
    Harness.json.writeValueAsString(ListMap[String, Any](
      "metric" -> "stress_total",
      "value" -> Harness.num(results.flatMap(_._2).filter(_._3).map(_._2).sum),
      "unit" -> "sec", "runs_per_query" -> repeat, "timing" -> "min",
      "tier" -> tierSel) ++ (if (partial) Seq("partial" -> true) else Nil) ++ Seq(
      "tiers" -> ListMap(results.map { case (tier, qs) => tier.label -> ListMap(
        "dir" -> tier.dir,
        "queries" -> ListMap(qs.map { case (n, v, ok) =>
          n -> (if (ok) Harness.num(v) else -1) }: _*)) }: _*),
      "failed" -> results.flatMap(_._2).collect { case (n, _, false) => n }))

  def main(args: Array[String]): Unit = {
    val tierSel = sys.env.getOrElse("SPARK_GRAFT_STRESS_TIER", "10")
    val tiers = tierSel match {
      case "10" => tiers10
      case "40" => tiers40
      case "all" => tiers10 ++ tiers40
      case other => sys.error(s"SPARK_GRAFT_STRESS_TIER=$other (want 10|40|all)")
    }
    val missing = tiers.map(_.dir).distinct
      .filterNot(d => new java.io.File(d, "lineitem.parquet").exists())
    if (missing.nonEmpty) {
      System.err.println(
        s"""stress substrates missing: ${missing.mkString(", ")}
           |regenerate with: python3 tools/gen_stress_data.py""".stripMargin)
      sys.exit(2)
    }
    val spark = Harness.session(BenchConf.scale)
    val only = Harness.only
    val repeat = Harness.repeat(1)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_STRESS_OUT", "STRESS_LOCAL.json")
    var done = Seq.empty[(Tier, Seq[(String, Double, Boolean)])]
    tiers.foreach { tier =>
      ops.Tables.load(spark, tier.dir)
      val prevConf = tier.conf.keys
        .map(k => k -> spark.conf.getOption(k)).toMap
      tier.conf.foreach { case (k, v) => spark.conf.set(k, v) }
      val qs = tier.queries.filter(n => only.forall(_.exists(n.startsWith))).map { name =>
        val fn = SparkEntry.queries.getOrElse(name,
          sys.error(s"unknown stress query $name"))
        // after each run, free lazily-checkpointed blocks NOW (blocking)
        // and drive ContextCleaner: shuffle files and broadcasts free only
        // when the driver GCs their references, and at stress scale a prior
        // query's tens of GB of map output lingering in the page cache
        // taxes the next one ~2x (g22 measured 52.1 s after g21 in-JVM vs
        // 27.0 s alone, round 15)
        val runs = (1 to repeat).map { _ =>
          try Harness.timed(spark, tier.dir, "stress", s"${tier.label}/$name", fn)
          finally { Harness.unpersistAll(spark, blocking = true); System.gc() }
        }
        val ok = runs.forall(_._2)
        (name, if (ok) runs.map(_._1).min else -1.0, ok)
      }
      prevConf.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      done = done :+ (tier, qs)
      // write-through after EVERY tier: a late-tier JVM death (the
      // li160x OOM, round 16) must not lose the whole window's
      // measurements
      if (tier ne tiers.last)
        Harness.writeJson("stress", outPath, render(tierSel, repeat, done, partial = true))
    }
    val json = render(tierSel, repeat, done, partial = false)
    Harness.writeJson("stress", outPath, json)
    Harness.stopAndPrint(spark, json)
    if (done.exists(_._2.exists(!_._3))) sys.exit(1)
  }
}
