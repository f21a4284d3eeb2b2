package graft.ops

import graft.SparkFixture
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits at sf0.001: the scale properties claimed in the
  * scaladoc must be visible in the executed plan — filter pushdown to the
  * parquet scan, column pruning in ReadSchema, broadcast joins for small
  * dims, and whole-stage codegen spans. */
object PlanAuditSpec {
  import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec,
    GlobalLimitExec, LocalLimitExec, CollectLimitExec}
  import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

  /** True when some limit operator below `p` bounds the row count feeding
    * it — an unpartitioned window over such input ranks a handful of
    * survivors (the t11 pattern), not the corpus. */
  private def limitBelow(p: SparkPlan): Boolean =
    p.find {
      case _: TakeOrderedAndProjectExec | _: GlobalLimitExec |
           _: LocalLimitExec | _: CollectLimitExec => true
      case _ => false
    }.isDefined

  /** `plan` plus every PHYSICAL subquery plan under it, recursively.
    * `collectWithSubqueries` can't be used directly on a pre-execution
    * `sparkPlan`: subquery expressions there may still hold LOGICAL
    * plans (e.g. the bloom-filter subquery InjectRuntimeFilter adds to a
    * broadcast join's probe side — first seen on s29) and the unchecked
    * cast inside it throws. Logical subqueries are planned at
    * executedPlan time; their eventual physical shape is a sub-plan of
    * the frames already audited here. */
  def withPhysicalSubqueries(plan: SparkPlan): Seq[SparkPlan] = {
    val all = plan.collect { case p =>
      p.expressions.flatMap(_.collect {
        case e: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] =>
          e.plan
      })
    }.flatten
    val subs = all.collect { case sp: SparkPlan => sp }
    // the skipped-still-logical set must be loudly empty of auditable
    // shapes, or an unbounded window / cartesian hiding in a subquery
    // escapes every audit above (ADVICE r14): assert each one is free of
    // logical global windows and condition-less joins before skipping it.
    all.collect {
      case lp: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan => lp
    }.foreach { lp =>
      import org.apache.spark.sql.catalyst.plans.logical.{Join, Window}
      val bad = lp.collect {
        case w: Window if w.partitionSpec.isEmpty => w.nodeName
        case j: Join if j.condition.isEmpty => j.nodeName
      }
      assert(bad.isEmpty,
        s"logical subquery holds auditable shapes ${bad.mkString(",")}:\n$lp")
    }
    plan +: subs.flatMap(withPhysicalSubqueries)
  }

  /** Unpartitioned window operators whose input is NOT bounded by a limit
    * — the single-partition global-sort shape that kills distributed
    * plans. Physical subqueries included. */
  def unboundedGlobalWindows(plan: SparkPlan): Seq[String] =
    withPhysicalSubqueries(plan).flatMap(_.collect {
      case w: WindowExec if w.partitionSpec.isEmpty && !limitBelow(w.child) =>
        w.simpleStringWithNodeId()
      case w: WindowGroupLimitExec
          if w.partitionSpec.isEmpty && !limitBelow(w.child) =>
        w.simpleStringWithNodeId()
    })

  /** Raw-payload column names that must never ride a shuffle: at 100 TB
    * an exchange carrying document text or media bytes IS the job's I/O
    * bill — every dedup/stat shape here reduces to digests/counts first. */
  private val payloadNames = Set("text", "bytes", "png", "wav")

  /** Hash/round-robin exchanges whose OUTPUT carries a raw payload
    * column. Subqueries included; range exchanges (presentation sorts of
    * per-doc frames) are judged separately by the narrow-sort rule. */
  def payloadExchanges(plan: SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    withPhysicalSubqueries(plan).flatMap(_.collect {
      case e: ShuffleExchangeExec
          if !e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] &&
            e.output.exists(a => payloadNames.contains(a.name)) =>
        e.output.filter(a => payloadNames.contains(a.name))
          .map(_.name).mkString("exchange carrying [", ",", "]")
    })
  }
}

class PlanAuditSpec extends AnyFunSuite with SparkFixture {

  private val dir = "/root/testdata/sf0.001"

  /** formatted mode carries scan details (PushedFilters/ReadSchema); simple
    * mode carries codegen stars and exchange partitioning inline. */
  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  private def simplePlan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("simple"))

  /** Executes the frame and returns the final (post-AQE) physical plan —
    * the audit surface for hint-FREE joins whose broadcast-vs-shuffle
    * choice is deliberately left to AQE's runtime size threshold. */
  private def executedPlan(df: DataFrame): String = {
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan.toString
  }

  test("q01: filter pushed to the parquet scan, codegen'd aggregate") {
    val p = plan(Relational.q01(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed down:\n$p")
    // AQE shows codegen spans only in the final (executed) plan
    val df = Relational.q01(spark, dir)
    df.queryExecution.toRdd.count()
    val sp = df.queryExecution.executedPlan.toString
    assert(sp.contains("*("), s"no whole-stage codegen span:\n$sp")
    assert(sp.contains("HashAggregate"), "no hash aggregate")
  }

  test("q02: projection prunes the scan to the selected columns") {
    // audit the pre-sort body: the output sort's checkpoint boundary hides
    // the scan from the final query's explain
    val p = plan(Relational.q02Body(spark, dir))
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    // lineitem has 16 columns; the projection must not read them all
    assert(readSchema.nonEmpty)
    assert(!readSchema.contains("l_comment"),
      s"scan reads unprojected columns: $readSchema")
  }

  test("q12: small dimensions join via BroadcastHashJoin") {
    val p = plan(Relational.q12(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"star join not broadcast:\n$p")
  }

  test("q17: sessionization shuffles once on the session key") {
    val p = simplePlan(Temporal.q17(spark, dir))
    // session_window agg: exactly one hash exchange (plus the output sort's
    // range exchange)
    val exchanges = p.linesIterator.count(l => l.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n$p")
  }

  test("q20: the range join runs as an equi-join on buckets, not a nested loop") {
    val p = simplePlan(Relational.q20(spark, dir))
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") ||
      p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"range join degraded to a nested loop:\n$p")
    assert(p.contains("Join") || p.contains("join"), "no join at all")
  }

  test("q21: salted aggregation shows both phases, each with map-side partials") {
    val p = simplePlan(Relational.q21(spark, dir))
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    // 2 logical phases × (partial + final) = 4 HashAggregate operators
    assert(aggs >= 4, s"expected two-phase agg with partials, got $aggs:\n$p")
  }

  test("t06: repetition detection is a pure scan — no hash exchange") {
    val p = simplePlan(TextAnalysis.t06(spark, dir))
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 0,
      s"narrow per-doc plan should not shuffle by key, got $exchanges:\n$p")
  }

  test("q14b: Expand sits above the base aggregation (two-level cube)") {
    val p = simplePlan(Relational.q14b(spark, dir))
    assert(p.contains("Expand"), s"no grouping-set expand:\n$p")
    // two-level = base partial+final agg, then cube partial+final agg
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 4, s"expected two aggregation levels, got $aggs:\n$p")
    // the Expand must consume the aggregated cells, not the scan: in the
    // bottom-up simple plan the scan line comes first, the base aggregates
    // next, Expand after
    val lines = p.linesIterator.toVector
    val scanIdx = lines.indexWhere(_.contains("Scan parquet"))
    val expandIdx = lines.indexWhere(_.contains("Expand"))
    val baseAggIdx = lines.indexWhere(_.contains("HashAggregate"))
    assert(scanIdx >= 0 && expandIdx >= 0 && baseAggIdx >= 0)
  }

  test("q03: all three scans keep pushed filters; the customer dim broadcasts") {
    val p = plan(Relational.q03(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)"), p)
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"), p)
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
  }

  test("t07: sequence packing shuffles once (the per-stream window)") {
    val p = simplePlan(TextAnalysis.t07(spark, dir))
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n$p")
  }

  test("d01: all-hash multi-distinct aggregation — no corpus sort") {
    // round 17: the two-level form kept a STRING (the normalized digest)
    // in the first-level agg buffer, which disqualifies HashAggregate and
    // sorted the whole corpus twice (SortAggregate both sides of the
    // exchange). The multi-distinct form Expands digest rows ×3 but every
    // buffer is a long: the plan must stay hash-aggregated end to end.
    val p = simplePlan(Dedup.d01(spark, dir))
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 4, s"expected partial+final hash aggregation, got $aggs:\n$p")
    assert(!p.contains("SortAggregate"),
      s"a corpus sort crept back into d01:\n$p")
    assert(p.contains("Expand"), s"multi-distinct Expand missing:\n$p")
  }

  test("d01: no exchange carries document text — the dedup keys are md5 digests") {
    val p = simplePlan(Dedup.d01(spark, dir))
    assert(p.contains("md5"), s"content hashing absent:\n$p")
    val badExchange = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("text"))
    assert(!badExchange, s"an exchange partitions on raw text:\n$p")
  }

  test("d02: the index aggregates to posting lists; the stop-shingle cut is a size filter") {
    // the postings build sits behind pairStats' checkpoint boundary, so
    // audit it pre-checkpoint: one hash aggregation into the capped
    // posting collector, cut by a size filter — no anti-join, no df
    // pre-count pass, no unbounded collect_list buffer
    val docs = Tables.t(spark, dir, "documents")
    val pp = simplePlan(Dedup.postings(Dedup.shinglesOfDocs(docs), 1000L))
    assert(pp.contains("capped_collect"), s"no posting-list aggregation:\n$pp")
    assert(!pp.contains("collect_list"), s"unbounded collector resurfaced:\n$pp")
    assert(pp.linesIterator.exists(l => l.contains("Filter") && l.contains("size")),
      s"stop-shingle size filter absent:\n$pp")
    assert(!pp.contains("Join"), s"index build should not join:\n$pp")
    val exchanges = pp.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"index build must shuffle exactly once, got $exchanges:\n$pp")
    // downstream, pairs generate narrowly from the postings in ONE
    // compiled kernel pass (sorted_pairs_packed: C(n,2) packed longs +
    // the size-carrying diagonal — not a double explode generating n²
    // rows to filter, and not a second shuffle of the index through a
    // self-join) and ONE hash aggregation counts intersections and
    // (diagonal) sizes together — audited pre-checkpoint, like the
    // index build above
    val pc = simplePlan(Dedup.pairCounts(Dedup.shinglesOfDocs(docs), 1000L))
    assert(pc.contains("sorted_pairs_packed"),
      s"packed pair kernel absent:\n$pc")
    val explodes = pc.linesIterator.count(_.contains("Generate explode"))
    assert(explodes == 2,
      s"pair build = shingle explode + ONE packed-pair explode, got $explodes:\n$pc")
    assert(!pc.contains("Join"), s"pair build should not join:\n$pc")
    val pcExchanges = pc.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(pcExchanges == 2,
      s"pair build = index exchange + ONE pair exchange, got $pcExchanges:\n$pc")
    val p = simplePlan(Dedup.d02(spark, dir))
    assert(!p.contains("ShuffledHashJoin"), s"index self-join resurfaced:\n$p")
  }

  test("s01: corpus side streams, query side broadcasts") {
    val p = plan(Similarity.s01(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"queries not broadcast:\n$p")
  }

  test("d06: the eval gram set broadcasts; the training corpus never shuffles pre-join") {
    val p = simplePlan(Dedup.d06(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"eval side not broadcast:\n$p")
    // the only hash exchange allowed below the join is none: training grams
    // probe the broadcast map-side; aggregation after the join may shuffle
    val joinIdx = p.indexOf("BroadcastHashJoin")
    val below = p.substring(joinIdx)
    assert(!below.contains("Exchange hashpartitioning") ||
      below.indexOf("Exchange hashpartitioning") > below.indexOf("Scan"),
      s"training side shuffled before the probe:\n$p")
  }

  test("t08/t09: hash split and quota sample are pure scans — no exchange") {
    for (df <- Seq(TextAnalysis.t08(spark, dir), TextAnalysis.t09(spark, dir))) {
      val p = simplePlan(df)
      assert(!p.contains("Exchange hashpartitioning"),
        s"narrow op shuffled:\n$p")
    }
  }

  test("q24: the lowered pivot is one aggregation — single shuffle, map-side partials") {
    val p = simplePlan(Relational.q24(spark, dir))
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n$p")
    assert(p.contains("partial_count"), s"no map-side partials:\n$p")
  }

  test("q25: grouping-set Expand consumes aggregated cells, not raw rows") {
    val p = simplePlan(Relational.q25(spark, dir))
    assert(p.contains("Expand"), s"no grouping-set expand:\n$p")
    val lines = p.linesIterator.toVector
    // bottom-up: scan … base HashAggregates … Expand — the expand index
    // must sit above (smaller line number than) the LAST aggregate pair,
    // i.e. at least one HashAggregate appears below it
    val expandIdx = lines.indexWhere(_.contains("Expand"))
    val aggBelowExpand = lines.drop(expandIdx + 1).exists(_.contains("HashAggregate"))
    assert(aggBelowExpand, s"Expand feeds on raw rows (no agg below it):\n$p")
  }

  test("t10: the df side is hint-free — AQE broadcasts it at this SF") {
    // the vocabulary grows with the corpus (Heaps), so the join carries no
    // broadcast hint; the audit pins that AQE's threshold-switch still
    // picks broadcast while the frame is small
    val p = executedPlan(TextAnalysis.t10(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"AQE did not broadcast the small df side:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
  }

  test("t11/t12: global top-k lowers to TakeOrderedAndProject, not a full sort") {
    for (df <- Seq(TextAnalysis.t11(spark, dir), TextAnalysis.t12(spark, dir))) {
      val p = simplePlan(df)
      assert(p.contains("TakeOrderedAndProject"),
        s"top-k did not lower to per-partition heaps:\n$p")
    }
  }

  test("t44: schedule prefix lowers to TakeOrdered; the only full window partitions by source") {
    val p = simplePlan(TextAnalysis.t44(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-200 schedule prefix did not lower to per-partition heaps:\n$p")
    // the single-partition window may rank only the post-limit 200 rows;
    // the corpus-sized window must be the per-source position sort
    assert(p.contains("windowspecdefinition(source"),
      s"per-source position window absent:\n$p")
  }

  test("t12: the fused kernel leaves ONE corpus exchange (the trigram agg)") {
    val p = simplePlan(TextAnalysis.t12(spark, dir))
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"expected 1 hash exchange (per-doc counting must stay in the scan), got $exchanges:\n$p")
    assert(p.contains("ngram_counts_text"), s"fused kernel absent:\n$p")
  }

  test("t20: shuffle-hash join builds on the corpus side; no checkpoint barrier") {
    val p = simplePlan(TextAnalysis.t20(spark, dir))
    assert(p.contains("ShuffledHashJoin"),
      s"doc-corpus join not a shuffled hash join:\n$p")
    assert(p.contains("ngram_counts_text"), s"fused kernel absent:\n$p")
    // per-doc counting is narrow: no exchange may partition raw text
    val badExchange = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("text"))
    assert(!badExchange, s"an exchange partitions on raw text:\n$p")
  }

  test("s05: quantized search broadcasts the query side; no corpus shuffle before scoring") {
    val p = simplePlan(Similarity.s05(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"queries not broadcast:\n$p")
  }

  test("d07: the drop-list anti-join is hint-free — AQE broadcasts it at this SF") {
    // the drop-list grows with corpus duplication, so no forced broadcast;
    // at this SF AQE's runtime size check must still pick broadcast
    val p = executedPlan(Dedup.d07(spark, dir))
    assert(p.contains("LeftAnti"), s"anti-join shape lost:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"AQE did not broadcast the small drop-list:\n$p")
  }

  test("q27: decorrelation leaves one hash shuffle and no self-join") {
    val p = simplePlan(Relational.q27(spark, dir))
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 hash exchange (window), got $exchanges:\n$p")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"correlated subquery re-scanned orders ($scans scans):\n$p")
  }

  test("t13: PII scrub is a pure scan — no exchange, codegen'd") {
    val df = TextAnalysis.t13(spark, dir)
    val p = simplePlan(df)
    assert(!p.contains("Exchange hashpartitioning"), s"narrow scrub shuffled:\n$p")
    df.queryExecution.toRdd.count()
    val sp = df.queryExecution.executedPlan.toString
    assert(sp.contains("*("), s"no whole-stage codegen span:\n$sp")
  }

  test("g02: the wedge join is a real equi-join, never a cartesian product") {
    val p = simplePlan(GraphOps.g02(spark, dir))
    assert(!p.contains("CartesianProduct"), s"wedge join degraded:\n$p")
  }

  test("q29: the salted join replicates the dimension (Generate) and joins on (key, salt)") {
    val p = simplePlan(Relational.q29(spark, dir))
    assert(p.contains("Generate explode"), s"dimension not salt-replicated:\n$p")
    assert(!p.contains("CartesianProduct"), s"salted join degraded:\n$p")
    assert(p.contains("salt"), s"salt column absent from the join:\n$p")
  }

  test("t18: the source cap shuffles once (the per-source window)") {
    val p = simplePlan(TextAnalysis.t18(spark, dir))
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n$p")
    assert(p.contains("row_number"), s"no rank window:\n$p")
  }

  test("s06: the exact side broadcasts the query sample over the streaming corpus") {
    val p = simplePlan(Similarity.s06(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query sample not broadcast:\n$p")
  }

  test("s07: the ADC scan joins broadcast tables (centroids, LUT) — never a cartesian") {
    val p = simplePlan(Similarity.s07(spark, dir))
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"codebook/LUT not broadcast:\n$p")
  }

  test("s29: composed IVF-PQ — codebooks/LUT/probes broadcast, no cartesian") {
    val p = simplePlan(Similarity.s29(spark, dir))
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"LUT/probes not broadcast:\n$p")
  }

  test("q37: melt adds no exchange — one aggregation shuffle, then a narrow Generate") {
    val p = simplePlan(Relational.q37(spark, dir))
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected only the pivot-agg shuffle, got $exchanges:\n$p")
    assert(p.contains("Generate"), s"stack did not lower to a row expand:\n$p")
  }

  test("t19: the KMV sketch runs as a partial-aggregating ObjectHashAggregate") {
    val p = simplePlan(TextAnalysis.t19(spark, dir))
    assert(p.contains("ObjectHashAggregate"),
      s"sketch not on the object-agg path (collect_set-style fallback?):\n$p")
  }

  test("d12: the audit joins band buckets hash-to-hash; no all-pairs stage") {
    val p = simplePlan(Dedup.d12(spark, dir))
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    assert(p.contains("ShuffledHashJoin"), s"band join lost the hash hint:\n$p")
  }

  test("d13: centroid assignment and drop-list broadcast; no cartesian") {
    val p = simplePlan(Dedup.d13(spark, dir))
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    // the centroid join (assignment) and the dup-of flag join broadcast;
    // only the cell-local pair join and doc join may shuffle
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"no broadcast in the assignment path:\n$p")
  }

  test("q39: compaction is an aggregate with map-side partials, not a window sort") {
    val p = simplePlan(Temporal.q39(spark, dir))
    assert(!p.contains("Window"), s"compaction fell back to a window plan:\n$p")
    assert(p.contains("partial_max") || p.contains("HashAggregate"),
      s"no partial aggregation before the exchange:\n$p")
  }

  test("q38: streaks reuse one user_id exchange for distinct + window") {
    val p = simplePlan(Temporal.q38(spark, dir))
    // the distinct on (user_id, day) and the per-user window must not
    // stack a second hash exchange on the same key layout
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"unexpected extra shuffles ($exchanges):\n$p")
  }

  test("t21/t22: readability is a pure scan; hapax is two-level aggregation") {
    val pr = simplePlan(TextAnalysis.t21(spark, dir))
    assert(!pr.contains("Exchange hashpartitioning"),
      s"readability scan gained a shuffle:\n$pr")
    val ph = simplePlan(TextAnalysis.t22(spark, dir))
    assert(ph.contains("HashAggregate"), s"hapax lost its hash aggregation:\n$ph")
    assert(!ph.contains("CartesianProduct"), s"cartesian product:\n$ph")
  }

  test("d14: flag joins are hint-free (AQE broadcasts at this SF); dedup keys are md5") {
    val p = simplePlan(Dedup.d14(spark, dir))
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    // the exact-rank window partitions on the 16-byte hash, never raw text
    assert(p.contains("md5"), s"exact stage lost the md5 key:\n$p")
    // nearDrop/contam grow with the corpus → no forced broadcast; AQE's
    // runtime threshold still picks broadcast for them at this SF
    val ep = executedPlan(Dedup.d14(spark, dir))
    assert(ep.contains("BroadcastHashJoin"),
      s"AQE did not broadcast the small flag sets:\n$ep")
  }

  test("d15: the sweep aggregates pairs — no document-side shuffle beyond the index") {
    val p = simplePlan(Dedup.d15(spark, dir))
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    assert(p.contains("HashAggregate"), s"sweep lost its aggregates:\n$p")
  }

  test("s10: query side broadcasts; the corpus streams into the top-k window") {
    val p = simplePlan(Similarity.s10(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query sample not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
  }

  test("g08: each BFS round joins the checkpointed edge list — no cartesian") {
    val p = simplePlan(GraphOps.g08(spark, dir))
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    // the final plan is the union of per-round checkpoints: flat, not a
    // 3-round join tower (lineage truncation worked)
    assert(p.contains("Union") || p.contains("Scan ExistingRDD"),
      s"per-round checkpoints missing — lineage grows with hops:\n$p")
  }

  test("q41: the 7× expansion happens after the user-day reduction, not on raw events") {
    val p = simplePlan(Temporal.q41(spark, dir))
    // Generate (explode of the 7-day sequence) must sit ABOVE the
    // distinct aggregate: raw events reduce first, then expand
    val gen = p.indexOf("Generate explode")
    val agg = p.lastIndexOf("HashAggregate")
    assert(gen >= 0, s"no sequence explode in plan:\n$p")
    assert(agg > gen, s"no aggregate below the expansion:\n$p")
    // the max-day clip joins a 1-row aggregate — broadcast, not shuffled
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"max-day clip not broadcast:\n$p")
  }

  test("q42: SCD2 shuffles once on user_id; no self-join") {
    val p = simplePlan(Temporal.q42(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"interval build must not join:\n$p")
    // one exchange keyed on user_id feeds both windows and the groupBy
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"more than two hash exchanges:\n$p")
  }

  test("t25: chunking is narrow — no exchange before the output sort") {
    val body = TextAnalysis.chunkStride(
      Tables.t(spark, dir, "documents"), 8, 4)
    // audit the pre-checkpoint body via its first child: the sortedNarrow
    // boundary hides the scan, so re-derive the unsorted pipeline
    val p = simplePlan(Tables.t(spark, dir, "documents")
      .selectExpr("doc_id", "split(text, ' ') as toks"))
    assert(!p.contains("Exchange"), s"chunk body shuffles:\n$p")
    // executed output still answers (smoke: posexplode + slice compose)
    assert(body.limit(1).count() == 1L)
  }

  test("s11: the norm profile is one hash aggregate over a pruned scan") {
    val p = plan(Similarity.s11(spark, dir))
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("vec_id"),
      s"scan reads vec_id for a label-only aggregate: $readSchema")
    val sp = simplePlan(Similarity.s11(spark, dir))
    assert(!sp.contains("Join"), s"aggregate-only op grew a join:\n$sp")
  }

  test("g09: pair totals broadcast; the membership join keys on user_id") {
    val p = simplePlan(GraphOps.g09(spark, dir))
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"totals not broadcast:\n$p")
  }

  test("q43: the log collapses in ONE hash aggregate; scoring never rescans it") {
    val p = simplePlan(Temporal.q43(spark, dir))
    // the raw event scan must feed exactly one partial+final count
    // pipeline; spine join / window / z-scoring run on the agg output
    val aggExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    assert(aggExchanges <= 2, s"hourly series re-shuffles:\n$p")
  }

  test("s13: the label filter is a hash-join key, not a nested-loop post-filter") {
    val p = simplePlan(Similarity.s13(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"filtered search lost its equi-join on label:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"label filter degraded to an all-pairs scan:\n$p")
  }

  test("g10: degree joins are SHUFFLE_HASH — a vertex-proportional frame never broadcasts") {
    val p = simplePlan(GraphOps.assortativity(
      Dedup.jaccardPairs(spark, dir, 0.5)))
    // the per-vertex degree table grows with the corpus vertex set: both
    // stub-degree joins (keys x and y) must be SHUFFLE_HASH, never a
    // forced broadcast (executor-memory bound at 100 TB). Substrate joins
    // below may still broadcast — those are size-estimated, not hinted.
    assert("ShuffledHashJoin \\[x#".r.findFirstIn(p).isDefined &&
      "ShuffledHashJoin \\[y#".r.findFirstIn(p).isDefined,
      s"degree joins lost their SHUFFLE_HASH hint:\n$p")
    assert("BroadcastHashJoin \\[[xy]#".r.findFirstIn(p).isEmpty,
      s"a vertex-derived degree frame broadcast:\n$p")
  }

  test("q44: percentiles come from the count histogram — no sort of the key table") {
    val p = simplePlan(Relational.q44(spark, dir))
    // two aggregation shuffles (key counts, count-of-counts); the window
    // and the scalar-totals join run on the tiny histogram
    val aggExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(aggExchanges <= 2, s"histogram path re-shuffles:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"scalar totals must broadcast:\n$p")
  }

  test("s14: the corpus collapses to |labels|x64 sums; scan prunes vec_id") {
    val p = plan(Similarity.s14(spark, dir))
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("vec_id"),
      s"centroid build reads vec_id: $readSchema")
    val sp = simplePlan(Similarity.s14(spark, dir))
    assert(!sp.contains("SortMergeJoin"),
      s"the 10-row centroid pair join must broadcast:\n$sp")
  }

  test("m08: the decode budget is one aggregate — no join, no payload shuffle") {
    val sp = simplePlan(Multimodal.m08(spark, dir))
    assert(!sp.contains("Join"), s"budget aggregate grew a join:\n$sp")
    val aggExchanges = sp.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(aggExchanges == 1, s"expected one aggregation shuffle:\n$sp")
  }

  test("g11: the doc→source map reduces to graph vertices before joining, hint-free") {
    val p = simplePlan(GraphOps.g11(spark, dir))
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    // the vertex set grows with the corpus → no forced broadcast in the
    // static plan; AQE still picks broadcast at this SF
    val ep = executedPlan(GraphOps.g11(spark, dir))
    assert(ep.contains("BroadcastHashJoin"),
      s"AQE did not broadcast the small vertex/label frames:\n$ep")
  }

  test("t27: diversity is two chained aggregates over a pruned scan — no join") {
    val p = plan(TextAnalysis.t27(spark, dir))
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("lang") && !readSchema.contains("n_chars"),
      s"scan reads columns the op never uses: $readSchema")
    val sp = simplePlan(TextAnalysis.t27(spark, dir))
    assert(!sp.contains("Join"), s"aggregate-only op grew a join:\n$sp")
  }

  test("q46: percentiles ride the gap histogram, not a per-type sort of all gaps") {
    val p = plan(Temporal.q46(spark, dir))
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("value") && !readSchema.contains("props"),
      s"scan reads columns the op never uses: $readSchema")
    // lag shuffle on (user_id, event_type), histogram shuffle, and the
    // tiny per-type window/aggregate exchanges — never a join
    val sp = simplePlan(Temporal.q46(spark, dir))
    assert(!sp.contains("Join"), s"cadence profile grew a join:\n$sp")
  }

  test("t30: the confusion matrix is one aggregate over a 2-column scan") {
    val p = plan(TextAnalysis.t30(spark, dir))
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("lang") && readSchema.contains("text") &&
      !readSchema.contains("source") && !readSchema.contains("n_chars"),
      s"scan must read exactly (lang, text): $readSchema")
    val sp = simplePlan(TextAnalysis.t30(spark, dir))
    assert(!sp.contains("Join"), s"confusion matrix grew a join:\n$sp")
    val aggExchanges = sp.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(aggExchanges <= 2, s"expected the matrix + share exchanges only:\n$sp")
  }

  test("s16: the pair join broadcasts the sample; the corpus never self-joins") {
    val sp = simplePlan(Similarity.s16(spark, dir))
    assert(sp.contains("BroadcastNestedLoopJoin") || sp.contains("BroadcastHashJoin"),
      s"pair join must broadcast one side:\n$sp")
    assert(!sp.contains("SortMergeJoin") && !sp.contains("CartesianProduct"),
      s"sample pair join must not shuffle or go cartesian:\n$sp")
  }

  test("t31: novelty scans (source, text) only and never reshuffles at the doc grain") {
    val p = plan(TextAnalysis.t31(spark, dir))
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("source") && readSchema.contains("text") &&
      !readSchema.contains("doc_id") && !readSchema.contains("n_chars"),
      s"scan must read exactly (source, text): $readSchema")
    val sp = simplePlan(TextAnalysis.t31(spark, dir))
    // the df=1 survivors carry their source inline — a doc-keyed exchange
    // would mean the plan joined back to the corpus
    assert(!sp.contains("hashpartitioning(doc_id"),
      s"novelty must not join back at the doc grain:\n$sp")
    assert(!sp.contains("ObjectHashAggregate"),
      s"gram agg must be combinable count+min, not a posting-list collect:\n$sp")
  }

  test("s18: queries broadcast; the corpus streams into the per-label quota window") {
    val sp = simplePlan(Similarity.s18(spark, dir))
    assert(sp.contains("BroadcastNestedLoopJoin") || sp.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n$sp")
    assert(!sp.contains("SortMergeJoin") && !sp.contains("CartesianProduct"),
      s"corpus must stream, not shuffle into the join:\n$sp")
  }

  test("s19: assignment and mining both broadcast the small side — corpus scans, never shuffles into a join") {
    val sp = simplePlan(Similarity.s19(spark, dir))
    assert(sp.contains("BroadcastNestedLoopJoin") || sp.contains("BroadcastHashJoin"),
      s"centroids/anchors must broadcast:\n$sp")
    assert(!sp.contains("SortMergeJoin") && !sp.contains("CartesianProduct"),
      s"hard-negative mining must not shuffle the corpus into a join:\n$sp")
  }

  test("q49: transitions scan only the stream columns; row totals broadcast back") {
    val p = plan(Temporal.q49(spark, dir))
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("value") && !readSchema.contains("props"),
      s"scan reads columns the op never uses: $readSchema")
    val sp = simplePlan(Temporal.q49(spark, dir))
    assert(sp.contains("BroadcastHashJoin"),
      s"the |types|-row total frame must broadcast:\n$sp")
    assert(!sp.contains("CartesianProduct") && !sp.contains("SortMergeJoin"),
      s"transition matrix grew a heavy join:\n$sp")
  }

  test("s20: assignment broadcasts centroids; the drift join broadcasts the old centroids") {
    val sp = simplePlan(Similarity.s20(spark, dir))
    assert(sp.contains("BroadcastNestedLoopJoin") || sp.contains("BroadcastHashJoin"),
      s"centroid sides must broadcast:\n$sp")
    assert(!sp.contains("SortMergeJoin") && !sp.contains("CartesianProduct"),
      s"drift must never shuffle the corpus into a join:\n$sp")
  }

  test("s21: both rankers broadcast their query side; fusion never rescans the corpus") {
    val sp = simplePlan(Similarity.s21(spark, dir))
    val bcasts = sp.linesIterator.count(l =>
      l.contains("BroadcastNestedLoopJoin") || l.contains("BroadcastHashJoin"))
    assert(bcasts >= 2, s"each ranker must broadcast its queries:\n$sp")
    assert(!sp.contains("CartesianProduct"), s"fusion went cartesian:\n$sp")
  }

  test("g13: degree joins are SHUFFLE_HASH onto the stubs — no broadcast, no self-join") {
    val s = spark
    import s.implicits._
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L)).toDF("da", "db")
    val sp = simplePlan(GraphOps.knnDegree(edges))
    // both per-vertex degree joins ride SHUFFLE_HASH; the only broadcast
    // allowed is the degree-CLASS histogram join (|distinct k| rows,
    // bounded by sqrt(2·|edges|) — not vertex-proportional)
    assert("ShuffledHashJoin \\[x#".r.findFirstIn(sp).isDefined &&
      "ShuffledHashJoin \\[y#".r.findFirstIn(sp).isDefined,
      s"degree joins lost their SHUFFLE_HASH hint:\n$sp")
    assert("BroadcastHashJoin \\[[xy]#".r.findFirstIn(sp).isEmpty,
      s"a vertex-derived degree frame broadcast:\n$sp")
    assert(!sp.contains("CartesianProduct"), s"knn curve went cartesian:\n$sp")
  }

  test("t32: one (source, token) collapse; the 1000-row vocabulary broadcasts") {
    // the (source, token) checkpoint boundary hides the scan from the
    // final explain (cf. q02), so the audit pins the join shape only
    val sp = simplePlan(TextAnalysis.t32(spark, dir))
    assert(sp.contains("BroadcastHashJoin"),
      s"the vocabulary must broadcast into the profile join:\n$sp")
    assert(!sp.contains("SortMergeJoin") && !sp.contains("CartesianProduct"),
      s"the (source, token) frame must not shuffle into the vocab join:\n$sp")
  }

  test("d22: prefix families are one hash aggregate — no join, no text in the exchange") {
    val sp = simplePlan(Dedup.d22(spark, dir))
    assert(!sp.contains("Join"), s"prefix families grew a join:\n$sp")
    // the exchange must carry the md5 keys, never the text payload
    val exchangeLines = sp.linesIterator.filter(_.contains("Exchange")).mkString
    assert(!exchangeLines.contains("text"),
      s"document text crosses an exchange:\n$exchangeLines")
  }

  test("q50: every window rides ONE user_id exchange; top-20 lowers to TakeOrdered") {
    val sp = simplePlan(Temporal.q50(spark, dir))
    val exchanges = sp.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2,
      s"session flag + leads must share the user_id exchange (plus the trigram agg):\n$sp")
    assert(sp.contains("TakeOrderedAndProject"),
      s"the top-20 cut must be a bounded heap, not a full sort:\n$sp")
    assert(!sp.contains("CartesianProduct") && !sp.contains("Join"),
      s"path trigrams grew a join:\n$sp")
  }

  test("t33: marginals and the dense grid broadcast; no corpus-proportional join") {
    val sp = simplePlan(TextAnalysis.t33(spark, dir))
    assert(sp.contains("BroadcastHashJoin") || sp.contains("BroadcastNestedLoopJoin"),
      s"vocab/marginals must broadcast:\n$sp")
    assert(!sp.contains("CartesianProduct"),
      s"the drift grid must be a broadcast cross join, not cartesian:\n$sp")
  }

  test("m10: payload concentration is narrow kernel work — no join, one fan-out exchange") {
    val sp = simplePlan(Multimodal.m10(spark, dir))
    assert(!sp.contains("Join"), s"concentration profile grew a join:\n$sp")
    assert(sp.contains("char_stats"),
      s"the compiled kernel must appear in the plan:\n$sp")
  }

  test("t34: token-loss exchanges carry hashes and counts, never text") {
    val sp = simplePlan(TextAnalysis.t34(spark, dir))
    val exchangeLines = sp.linesIterator.filter(_.contains("Exchange")).mkString
    assert(!exchangeLines.contains("text"),
      s"document text crosses an exchange:\n$exchangeLines")
    assert(!sp.contains("CartesianProduct"), s"token loss went cartesian:\n$sp")
  }

  test("g17: edge support rides real equi-joins — no cartesian, no broadcast of the edge frame") {
    val p = simplePlan(GraphOps.g17(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"wedge/support join degraded:\n$p")
    // the SHUFFLE_HASH hints hold: the wedge join (x.db < y.db) and the
    // closing join both hash the edge list (build right), neither sorts
    val inner = p.linesIterator.filter(l => l.contains("Join ") && l.contains("Inner")).toSeq
    assert(inner.size == 2 &&
      inner.forall(l => l.contains("ShuffledHashJoin ") && l.contains("Inner, BuildRight")) &&
      inner.exists(_.matches(""".*\(db#\d+L < db#\d+L\)""")),
      s"wedge/support join strategy moved:\n$p")
  }

  test("t40: the LM joins are hint-free; AQE broadcasts the small tables at this SF") {
    // audit the pre-sort body: the output checkpoint hides the joins (q02)
    val ep = executedPlan(TextAnalysis.t40Body(spark, dir))
    assert(ep.contains("BroadcastHashJoin"),
      s"AQE did not broadcast the small LM tables:\n$ep")
    assert(!ep.contains("CartesianProduct"), s"scoring went cartesian:\n$ep")
  }

  test("m12: only (doc_id, sig) longs enter the band exchange — no payload, no cartesian") {
    val sp = simplePlan(Multimodal.m12(spark, dir))
    assert(!sp.contains("CartesianProduct"), s"band join went cartesian:\n$sp")
    val exchangeLines = sp.linesIterator.filter(_.contains("Exchange")).mkString
    assert(!exchangeLines.contains("bytes") && !exchangeLines.contains("txt"),
      s"media payload crosses an exchange:\n$exchangeLines")
  }

  test("d28: evidence ranking windows on the pair key; no cartesian") {
    val sp = simplePlan(Dedup.d28(spark, dir))
    assert(!sp.contains("CartesianProduct"), s"evidence join went cartesian:\n$sp")
    assert(sp.contains("Window"), s"per-pair ranking lost its window:\n$sp")
  }

  test("g19: density is two aggregates over pairs-sized frames + one component join") {
    val sp = simplePlan(GraphOps.g19(spark, dir))
    assert(!sp.contains("CartesianProduct"), s"density went cartesian:\n$sp")
    assert(sp.contains("HashAggregate"), s"density lost its aggregates:\n$sp")
  }

  test("t41: the component label table joins hint-free; the hash is scan work") {
    val ep = executedPlan(TextAnalysis.t41(spark, dir))
    assert(!ep.contains("CartesianProduct"), s"split assignment went cartesian:\n$ep")
    assert(ep.contains("BroadcastHashJoin") || ep.contains("ShuffledHashJoin") ||
      ep.contains("SortMergeJoin"), s"label join missing:\n$ep")
  }

  test("s24: centroids collapse to |labels|x64 integer sums; scoring never sort-merges") {
    val sp = simplePlan(Similarity.s24(spark, dir))
    assert(!sp.contains("SortMergeJoin") && !sp.contains("CartesianProduct"),
      s"centroid scoring grew a heavy join:\n$sp")
    assert(sp.contains("BroadcastHashJoin"),
      s"the fixed-cardinality centroid table must broadcast:\n$sp")
  }

  test("t35: the unigram LM join is hint-free — AQE broadcasts it at this SF") {
    // the LM is vocabulary-sized (Heaps-growing) → no forced broadcast;
    // AQE's runtime size check must still pick broadcast while it fits
    val ep = executedPlan(TextAnalysis.t35(spark, dir))
    assert(ep.contains("BroadcastHashJoin"),
      s"AQE did not broadcast the small LM:\n$ep")
    assert(!ep.contains("CartesianProduct"), s"doc scoring went cartesian:\n$ep")
  }

  test("d24: no exchange carries document text; the gram join is hash, not merge") {
    val sp = simplePlan(Dedup.d24(spark, dir))
    val exchangeLines = sp.linesIterator.filter(_.contains("Exchange")).mkString
    assert(!exchangeLines.contains("text"),
      s"document text crosses an exchange:\n$exchangeLines")
    assert(!sp.contains("CartesianProduct"), s"coverage went cartesian:\n$sp")
  }

  test("m11: the energy profile is a pure scan with the compiled kernel") {
    val sp = simplePlan(Multimodal.energyProfile(Multimodal.mediaTable(spark, dir)))
    assert(!sp.contains("Join"), s"energy profile grew a join:\n$sp")
    assert(sp.contains("window_energy"),
      s"the compiled kernel must appear in the plan:\n$sp")
    val exchanges = sp.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 0, s"narrow profile shuffled:\n$sp")
  }

  test("t36: hashed BOW is narrow kernel work — no join, no hash exchange") {
    val sp = simplePlan(TextAnalysis.t36(spark, dir))
    assert(!sp.contains("Join"), s"hashing-trick featurizer grew a join:\n$sp")
    assert(!sp.contains("Exchange hashpartitioning"),
      s"narrow featurizer shuffled:\n$sp")
  }

  test("q52: division count-matches — no cartesian user×domain expansion") {
    val sp = simplePlan(Temporal.q52(spark, dir))
    assert(!sp.contains("CartesianProduct"), s"division went cartesian:\n$sp")
    assert(sp.contains("BroadcastNestedLoopJoin") || sp.contains("BroadcastExchange"),
      s"the 1-row domain should broadcast:\n$sp")
  }

  test("d26: incremental probe exchanges carry digests, never text") {
    val sp = simplePlan(Dedup.d26(spark, dir))
    val exchangeLines = sp.linesIterator.filter(_.contains("Exchange")).mkString
    assert(!exchangeLines.contains("text"),
      s"document text crosses an exchange:\n$exchangeLines")
    assert(!sp.contains("CartesianProduct"), s"probe went cartesian:\n$sp")
  }

  test("t46: the packed weight row broadcasts; scoring is narrow (no doc-grain hash exchange)") {
    // audit the weight fit + the scoring attach; the final ntile/groupBy
    // run behind globalNtile's checkpoint boundary
    val docs = Tables.t(spark, dir, "documents")
    val p = executedPlan(TextAnalysis.dsirWeights(docs))
    assert(!p.contains("CartesianProduct"), s"weight fit grew a cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"1-row totals frame did not broadcast:\n$p")
  }

  test("g21: link prediction never broadcasts a vertex-sized frame; top-20 is TakeOrdered") {
    val p = simplePlan(GraphOps.g21(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 did not lower to per-partition heaps:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
  }

  test("s26: only the bounded query batch broadcasts; top-20 is TakeOrdered") {
    val p = simplePlan(Similarity.s26(spark, dir))
    val bcasts = p.linesIterator.count(_.contains("BroadcastExchange"))
    assert(bcasts == 1, s"expected exactly the query-batch broadcast, got $bcasts:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 did not lower to per-partition heaps:\n$p")
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
      s"unexpected cartesian:\n$p")
  }

  test("q48: the log collapses once; both lags ride one window over the tiny series") {
    val p = plan(Temporal.q48(spark, dir))
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("value") && !readSchema.contains("props") &&
      !readSchema.contains("user_id"),
      s"scan reads columns the op never uses: $readSchema")
    val sp = simplePlan(Temporal.q48(spark, dir))
    assert(!sp.contains("CartesianProduct") && !sp.contains("SortMergeJoin"),
      s"autocorr grew a heavy join:\n$sp")
  }

  test("t47: classes collapse once; only the 4-row k frame broadcasts; text never scans") {
    val sp = simplePlan(TextAnalysis.t47(spark, dir))
    val readSchema = sp.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("text"),
      s"k-anonymity audit reads document text: $readSchema")
    assert(!sp.contains("CartesianProduct"), s"k sweep went cartesian:\n$sp")
    assert(sp.contains("BroadcastNestedLoopJoin") || sp.contains("BroadcastExchange"),
      s"the 4-row k frame should broadcast:\n$sp")
  }

  test("d30: soft dedup exchanges carry digests, never text; no join in the plan") {
    val sp = simplePlan(Dedup.d30(spark, dir))
    val exchangeLines = sp.linesIterator.filter(_.contains("Exchange")).mkString
    assert(!exchangeLines.contains("text"),
      s"document text crosses an exchange:\n$exchangeLines")
    assert(!sp.contains("Join"), s"reweighting needs no join at all:\n$sp")
  }

  test("d31: histogram exchanges carry digests, never text; total is a 1-row broadcast") {
    val sp = simplePlan(Dedup.d31(spark, dir))
    val exchangeLines = sp.linesIterator.filter(_.contains("Exchange")).mkString
    assert(!exchangeLines.contains("text"),
      s"document text crosses an exchange:\n$exchangeLines")
    assert(!sp.contains("CartesianProduct"),
      s"the 1-row total should broadcast-nest:\n$sp")
  }

  test("q55: snowflake probe prunes the lineitem scan and broadcasts the region dims") {
    val p = plan(Relational.q55(spark, dir))
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_quantity") && !readSchema.contains("l_tax") &&
      !readSchema.contains("l_returnflag"),
      s"lineitem scan reads columns Q5 never uses: $readSchema")
    assert(p.contains("BroadcastExchange"),
      s"the region-filtered nation dim should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"snowflake went cartesian:\n$p")
  }

  test("q56: both nation roles collapse via broadcast dims; lineitem scan prunes") {
    val p = plan(Relational.q56(spark, dir))
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_quantity") && !readSchema.contains("l_tax") &&
      !readSchema.contains("l_shipdate"),
      s"lineitem scan reads columns Q8 never uses: $readSchema")
    assert(p.contains("BroadcastExchange"),
      s"the fixed-domain nation dims should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"snowflake went cartesian:\n$p")
  }

  test("q57: decorrelated avg joins back on the aggregation's own key; scan prunes") {
    val p = plan(Relational.q57(spark, dir))
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_tax") &&
      !readSchema.contains("l_discount"),
      s"lineitem scan reads columns Q17 never uses: $readSchema")
    assert(!p.contains("CartesianProduct"), s"decorrelation went cartesian:\n$p")
    // the lineitem-side probe shuffles on l_partkey at most twice (probe +
    // aggregate input); a third partkey exchange would mean the stats
    // join ignored the aggregation's partitioning
    val partkeyExchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning") && l.contains("l_partkey"))
    assert(partkeyExchanges <= 2, s"extra partkey exchange:\n$p")
  }

  test("s27: quantization audit is one narrow pass — no join, one label exchange") {
    val sp = simplePlan(Similarity.s27(spark, dir))
    assert(!sp.contains("Join"), s"the audit needs no join:\n$sp")
    val hashExchanges = sp.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges <= 1, s"more than the |labels|-row aggregate exchange:\n$sp")
  }

  test("g22: two-hop expansion never broadcasts a vertex-sized frame, no cartesian") {
    val sp = simplePlan(GraphOps.g22(spark, dir))
    assert(!sp.contains("CartesianProduct"), s"FoF expansion went cartesian:\n$sp")
    // exactly ONE range exchange: the final order-by on the
    // |histogram|-row frame. A second one would mean a global sort
    // somewhere on the pair-scale frames — the scale smell.
    val ranges = sp.linesIterator.count(_.contains("rangepartitioning"))
    assert(ranges <= 1, s"global sort upstream of the histogram:\n$sp")
  }

  test("q58: one orderkey exchange feeds both aggregation levels; scan prunes") {
    val p = plan(Relational.q58(spark, dir))
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_quantity") &&
      !readSchema.contains("l_extendedprice") && !readSchema.contains("l_tax"),
      s"lineitem scan reads columns Q21 never uses: $readSchema")
    assert(!p.contains("CartesianProduct"), s"decorrelation went cartesian:\n$p")
    // the forced repartition is the ONLY orderkey hash exchange above the
    // join: the per-supplier dedup and the per-order counters cluster on
    // supersets of it (subset-partitioning reuse)
    val okExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("l_orderkey"))
    assert(okExchanges <= 2, s"aggregation levels re-shuffled the order key:\n$p")
  }

  test("q59: one partkey exchange serves rollup, per-part min, and min-back join") {
    val p = plan(Relational.q59(spark, dir))
    assert(!p.contains("CartesianProduct"), s"min decorrelation went cartesian:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the region-filtered supplier dim should broadcast at bench SF:\n$p")
    val pkExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("l_partkey"))
    assert(pkExchanges <= 1, s"subset-partitioning reuse broke:\n$p")
  }

  test("q60: one partkey exchange; year filter and projection push to the scan") {
    val p = plan(Relational.q60(spark, dir))
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_extendedprice") &&
      !readSchema.contains("l_discount"),
      s"lineitem scan reads columns Q20 never uses: $readSchema")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"the year window should reach the parquet scan:\n$p")
    val pkExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("l_partkey"))
    assert(pkExchanges <= 1, s"subset-partitioning reuse broke:\n$p")
    assert(!p.contains("CartesianProduct"), s"dominance test went cartesian:\n$p")
  }

  test("q61: threshold is a 1-row broadcast; no-orders test is a left anti join") {
    val p = plan(Relational.q61(spark, dir))
    assert(p.contains("LeftAnti"), s"the no-orders test should be an anti join:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row threshold frame should broadcast:\n$p")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("o_totalprice") && !readSchema.contains("c_name"),
      s"scans read columns Q22 never uses: $readSchema")
  }

  test("q62: per-order agg is single-level; threshold survivors probe hint-free") {
    val p = plan(Relational.q62(spark, dir))
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_tax"),
      s"lineitem scan reads columns Q18 never uses: $readSchema")
    assert(!p.contains("CartesianProduct"), s"join-back went cartesian:\n$p")
  }

  test("q64: the lateness test is one LEFT SEMI with a residual; scans prune") {
    val p = plan(Relational.q64(spark, dir))
    assert(p.contains("LeftSemi"), s"the EXISTS should lower to a semi join:\n$p")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_quantity") &&
      !readSchema.contains("l_extendedprice"),
      s"lineitem scan reads columns Q4 never uses: $readSchema")
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"),
      s"the quarter window should reach the orders scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"semi join went cartesian:\n$p")
  }

  test("t48: rank/prefix ride the distributed range substrate — no global window") {
    val sp = simplePlan(TextAnalysis.t48(spark, dir))
    // ONE range exchange for the rank substrate + one for the 10-row
    // output sort; a third would mean a bare global-order window snuck in
    val ranges = sp.linesIterator.count(_.contains("rangepartitioning"))
    assert(ranges <= 2, s"extra global sort in the Lorenz substrate:\n$sp")
    assert(!sp.contains("CartesianProduct"),
      s"the 1-row Gini frame should broadcast-nest, not cartesian:\n$sp")
  }

  test("t49: systematic PPS rides the range substrate; hits telescope to exactly k") {
    val sp = simplePlan(TextAnalysis.t49(spark, dir))
    val ranges = sp.linesIterator.count(_.contains("rangepartitioning"))
    assert(ranges <= 2, s"extra global sort in the PPS substrate:\n$sp")
    assert(!sp.contains("CartesianProduct"), s"PPS went cartesian:\n$sp")
    // Madow's invariant: the floor differences telescope to k hits total
    val hits = TextAnalysis.t49(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("n_hits")).head().getLong(0)
    assert(hits == 100L, s"systematic picks must telescope to k: $hits")
  }

  test("t50: the 4096-cell CMS broadcasts; probes are 200 keys; no cartesian") {
    val sp = simplePlan(TextAnalysis.t50(spark, dir))
    assert(sp.contains("BroadcastExchange") || sp.contains("BroadcastHashJoin"),
      s"the sketch table is bounded by its params and should broadcast:\n$sp")
    assert(!sp.contains("CartesianProduct"), s"CMS probe went cartesian:\n$sp")
    // overestimates are >= 0 by construction — a negative one means the
    // two engines' sketches diverged
    val neg = TextAnalysis.t50(spark, dir)
      .filter(org.apache.spark.sql.functions.col("overest") < 0).count()
    assert(neg == 0L, "CMS estimate below the true count")
  }

  test("s28: the scoring pass is NARROW — centroid literals, no join at all") {
    val sp = simplePlan(Similarity.s28(spark, dir))
    assert(!sp.contains("Join"), s"scoring should embed centroid literals:\n$sp")
    val hashExchanges = sp.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges <= 1, s"more than the |labels|-row rollup exchange:\n$sp")
    assert(sp.contains("sq_dist_long"), s"distances should use the compiled kernel:\n$sp")
  }

  test("q65: per-customer count reuses the left join's own key partitioning") {
    val p = plan(Relational.q65(spark, dir))
    assert(p.contains("PushedFilters") && p.contains("o_totalprice"),
      s"the price filter should reach the orders scan:\n$p")
    // custkey appears in at most the join's two side exchanges — the
    // per-customer count must NOT re-shuffle it
    val ckExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") &&
        (l.contains("c_custkey") || l.contains("o_custkey")))
    assert(ckExchanges <= 2, s"the count re-shuffled the customer key:\n$p")
    assert(!p.contains("CartesianProduct"), s"histogram went cartesian:\n$p")
  }

  test("q66: bad suppliers anti-join the fact before widening; scans prune") {
    val p = plan(Relational.q66(spark, dir))
    assert(p.contains("LeftAnti"), s"NOT IN should lower to an anti join:\n$p")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_extendedprice") &&
      !readSchema.contains("l_quantity"),
      s"lineitem scan reads columns Q16 never uses: $readSchema")
    assert(!p.contains("CartesianProduct"), s"diversity count went cartesian:\n$p")
  }

  test("q67: top-20 lowers to TakeOrdered; names attach after the cut") {
    val p = plan(Relational.q67(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-20 should never materialize a global sort:\n$p")
    assert(p.contains("PushedFilters") && p.contains("l_returnflag"),
      s"the returnflag filter should reach the lineitem scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"churn list went cartesian:\n$p")
  }

  test("q68: OR-of-ANDs stays ONE partkey equi-join with a residual") {
    val p = plan(Relational.q68(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the disjunction broke the equi-join:\n$p")
    // ONE join operator in the tree (formatted explain lists each node
    // once in the tree and once in the details; count detail headers)
    val joins = p.linesIterator.count(_.matches("""\(\d+\) \w*Join\w*.*"""))
    assert(joins <= 1, s"the three conjunctions should not fan into scans:\n$p")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_tax"),
      s"lineitem scan reads columns Q19 never uses: $readSchema")
  }

  test("q69: the global max is a 1-row broadcast over the revenue rollup") {
    val p = plan(Relational.q69(spark, dir))
    // the revenue rollup is checkpointed (reused by max + winner filter),
    // which hides the scan from this explain — the pushed quarter filter
    // is covered by the shared scan-pruning audits; pin the join shapes
    assert(p.contains("BroadcastExchange"),
      s"the 1-row max frame should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"winner filter went cartesian:\n$p")
  }

  test("q71: the multi-distinct profile is ONE scan through an Expand, no joins") {
    val p = plan(Relational.q71(spark, dir))
    assert(p.contains("Expand"),
      s"6 exact COUNT(DISTINCT)s should plan one Expand, not per-column passes:\n$p")
    val scans = p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans <= 1, s"the profile re-scanned the table:\n$p")
    assert(!p.contains("Join"), s"profiling needs no join:\n$p")
  }

  test("q72: part prunes before the fact join; nation broadcasts; scan prunes") {
    val p = plan(Relational.q72(spark, dir))
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_tax") && !readSchema.contains("l_returnflag"),
      s"lineitem scan reads columns Q9 never uses: $readSchema")
    assert(p.contains("PushedFilters") && p.contains("p_name"),
      s"the %gear% filter should reach the part scan:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the fixed-domain nation dim should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"profit rollup went cartesian:\n$p")
  }

  test("q73: the grand total is a 1-row broadcast over the per-part rollup") {
    val p = plan(Relational.q73(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row total frame should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"threshold test went cartesian:\n$p")
    // the per-part rollup is checkpointed and reused by total + filter —
    // the partkey key must not re-shuffle past its own aggregation
    val pkExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("l_partkey"))
    assert(pkExchanges <= 1, s"rollup re-shuffled the part key:\n$p")
  }

  test("q74: the year filter pushes to the fact scan; one equi-join, partial aggs") {
    val p = plan(Relational.q74(spark, dir))
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"the ship-year window should reach the lineitem scan:\n$p")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_quantity"),
      s"lineitem scan reads columns Q12 never uses: $readSchema")
    assert(!p.contains("CartesianProduct"), s"priority split went cartesian:\n$p")
    val sp = simplePlan(Relational.q74(spark, dir))
    assert(sp.contains("partial_sum") || sp.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"no map-side partials before the |status|-cell final:\n$sp")
  }

  test("q75: month filter pushes down; keyless final yields one row, no cartesian") {
    val p = plan(Relational.q75(spark, dir))
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"the month window should reach the lineitem scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"promo share went cartesian:\n$p")
    val sp = simplePlan(Relational.q75(spark, dir))
    // two-level keyless: per-partition partial+final, then global partial+final
    assert(sp.linesIterator.count(_.contains("HashAggregate")) >= 4,
      s"keyless two-level aggregate lost a level:\n$sp")
  }

  test("q76: the pushdown probe — date range reaches the scan, no join, keyless two-level") {
    val p = plan(Relational.q76(spark, dir))
    assert(p.contains("PushedFilters") &&
      p.contains("GreaterThanOrEqual(l_shipdate") && p.contains("LessThan(l_shipdate"),
      s"the ship-year range should reach the parquet scan:\n$p")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_tax") && !readSchema.contains("l_orderkey"),
      s"lineitem scan reads columns Q6 never uses: $readSchema")
    assert(!p.contains("Join"), s"single-table probe grew a join:\n$p")
    val sp = simplePlan(Relational.q76(spark, dir))
    assert(sp.linesIterator.count(_.contains("HashAggregate")) >= 4,
      s"keyless two-level aggregate lost a level:\n$sp")
  }

  test("t51: the trained model rides as literals — scoring is a pure narrow scan") {
    // audit the pre-sort classify body: the sortedNarrow checkpoint hides
    // the scan from the final query's explain (the q02 pattern)
    val docs = Tables.t(spark, dir, "documents")
    val sp = simplePlan(TextAnalysis.nbClassify(docs, TextAnalysis.nbModel(docs)))
    assert(!sp.contains("Join"), s"classify should embed the model, not join it:\n$sp")
    assert(!sp.contains("Exchange"), s"narrow scoring shuffled:\n$sp")
    assert(sp.toLowerCase.contains("hashed_bow"),
      s"the compiled featurizer must appear in the plan:\n$sp")
  }

  test("m15: audio decode is codec work behind ONE fan-out exchange — no join") {
    val sp = simplePlan(Multimodal.m15Body(spark, dir))
    assert(!sp.contains("Join"), s"audio stats grew a join:\n$sp")
    val exchanges = sp.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected only the codec fan-out exchange:\n$sp")
  }

  test("d17/t24: global top-k lowers to TakeOrdered; rank windows see only survivors") {
    for ((nm, df) <- Seq("d17" -> Dedup.d17(spark, dir),
                         "t24" -> TextAnalysis.t24(spark, dir))) {
      val p = simplePlan(df)
      assert(p.contains("TakeOrderedAndProject"),
        s"$nm: top-k did not lower to per-partition heaps:\n$p")
      val bad = PlanAuditSpec.unboundedGlobalWindows(df.queryExecution.sparkPlan)
      assert(bad.isEmpty,
        s"$nm: unpartitioned window over UNBOUNDED input (must rank only the " +
          s"post-limit survivors): $bad\n$p")
    }
  }

  /** The class-wide scale-killer guards, all checked in ONE pass over
    * every registered query's physical plan (subqueries included):
    *
    *  1. no unpartitioned WindowExec over unbounded input — that shape
    *     sorts a corpus-proportional frame on ONE partition and is the
    *     single most common way a distributed plan silently degrades to
    *     a single node. Windows over post-limit survivors (TakeOrdered
    *     below) are bounded by construction and auto-exempt; everything
    *     else must appear in the window allowlist with its domain bound.
    *  2. no hash/round-robin exchange carrying a raw payload column
    *     (text/bytes) — shuffling payloads is the I/O bill at 100 TB;
    *     the only exception class is the deliberate ONE-TIME compute
    *     fan-out (a single repartition of the compact scan spreading
    *     expensive kernel/codec work), allowlisted per site. m13–m16's
    *     identical fan-outs sit behind their sortedNarrow checkpoints
    *     and are pinned by their body audits instead.
    *  3. no CartesianProduct, anywhere, ever — no allowlist. Every
    *     all-pairs semantics here is bucketed (LSH bands, IVF cells,
    *     blocking keys) or broadcast-nested over a bounded side.
    */
  test("sweep: scale-killer plan shapes are locked shut across the registry") {
    // name -> why the window input is bounded by something other than a limit
    val allow = Map(
      "q44_skew_profile" -> "percentile window over the count-of-counts histogram (|distinct per-key counts| rows)",
      "q40_user_growth" -> "cumulative window over the per-day spine (|days| rows)",
      "q43_hourly_anomaly" -> "z-score windows over the per-hour spine (|hours| rows)",
      "t23_mixture_budget" -> "largest-remainder windows over the per-source budget frame (|sources| rows)",
      "t54_curation_pipeline" -> "same mixtureBudget kernel windows (|sources| rows); the schedule windows are budget- (<=1000) and limit- (200) bounded",
      "t26_vocab_growth" -> "Heaps-curve window over the per-batch frame (|batches| rows)",
      "t45_quality_quantiles" -> "documented <=1e6+1 quantile grid (clamped before the window)",
      "s09_cell_balance" -> "balance window over the per-IVF-cell histogram (n_lists rows, algorithm parameter)",
      "s16_pair_density" -> "density census over the documented bounded sample (O(sample^2) requires it)")
    val allowPayload = Map(
      "t04_fingerprint" -> "one-time fan-out: two full-text rolling hashes dominate the scan's parallelism",
      "m03_frame_sample" -> "one-time codec fan-out of raw bytes (the m03 recipe)",
      "m04_resize" -> "one-time codec fan-out of raw bytes",
      "m06_scene_cuts" -> "one-time codec fan-out of raw bytes",
      "m10_payload_concentration" -> "one-time kernel fan-out (char_stats over payloads)")
    val winHits = scala.collection.mutable.ListBuffer[String]()
    val payloadHits = scala.collection.mutable.ListBuffer[String]()
    val cartesianHits = scala.collection.mutable.ListBuffer[String]()
    for (q <- Q.registry) {
      val plan = q.fn(spark, dir).queryExecution.sparkPlan
      if (PlanAuditSpec.unboundedGlobalWindows(plan).nonEmpty) winHits += q.name
      if (PlanAuditSpec.payloadExchanges(plan).nonEmpty) payloadHits += q.name
      if (PlanAuditSpec.withPhysicalSubqueries(plan).flatMap(_.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }).nonEmpty) cartesianHits += q.name
      // queries pin layouts with lazy localCheckpoints; free the blocks so
      // the full-registry sweep doesn't accumulate them (CLAUDE.md rule)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    val unexpectedWin = winHits.filterNot(allow.contains)
    assert(unexpectedWin.isEmpty,
      s"unpartitioned window over unbounded input in: ${unexpectedWin.mkString(", ")} — " +
        "repartition the window, lower the top-k to orderBy+limit, or document the bound here")
    val stale = allow.keySet -- winHits.toSet
    assert(stale.isEmpty,
      s"window allowlist entries no longer plan a global window — prune them: ${stale.mkString(", ")}")
    val unexpectedPayload = payloadHits.filterNot(allowPayload.contains)
    assert(unexpectedPayload.isEmpty,
      s"payload column crosses an exchange in: ${unexpectedPayload.mkString(", ")}")
    val stalePayload = allowPayload.keySet -- payloadHits.toSet
    assert(stalePayload.isEmpty,
      s"payload allowlist entries no longer shuffle payloads — prune them: ${stalePayload.mkString(", ")}")
    assert(cartesianHits.isEmpty,
      s"CartesianProduct planned in: ${cartesianHits.mkString(", ")}")
  }

  test("q63: nation pair broadcasts prune both fact sides; scan prunes") {
    val p = plan(Relational.q63(spark, dir))
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_quantity") && !readSchema.contains("l_tax"),
      s"lineitem scan reads columns Q7 never uses: $readSchema")
    assert(p.contains("BroadcastExchange"),
      s"the fixed-domain nation pair should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"bilateral filter went cartesian:\n$p")
  }
}
