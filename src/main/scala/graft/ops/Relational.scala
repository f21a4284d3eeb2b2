package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Data-plane relational surface (SURVEY.md §2.F): the SQL constructs the
  * reference's governed models execute — scans, projection/cast pipelines,
  * filters, CTE chains, equi/left/semi/anti joins, hash aggregates with
  * CASE-sums, windows, incremental watermark appends, rollups, set ops, and
  * dbt generic data tests expressed as violation queries.
  *
  * Scale notes (100 TB design): every query is a declarative DataFrame plan —
  * filters/projections push to the parquet scan, small dims are explicitly
  * broadcast, aggregates are partial (map-side) by construction, and no
  * driver-side collect happens anywhere. Aggregation is done in DECIMAL so
  * results are bit-identical under any partitioning/merge order.
  */
object Relational {

  /** Exact (order-insensitive) aggregation domain: DECIMAL(18,6). */
  private def dec(c: Column): Column = c.cast(DecimalType(18, 6))
  private def dbl(c: Column): Column = c.cast(DoubleType)
  private def ts(s: String): Column = to_timestamp(lit(s))
  private def d8(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** Lossless money→long-cents: the money columns are 2-decimal values
    * stored as nearest-doubles, so `round(x*100)` recovers the exact
    * integer cents (the double's error is ≪ 0.5 cents). Long-domain sums
    * keep the aggregate inside whole-stage codegen's primitive fast path;
    * a DECIMAL(18,6)-cast sum has result precision 28 and falls off to
    * per-row BigDecimal arithmetic (~4× slower measured). */
  private def cents(c: Column): Column = round(c * 100).cast(LongType)

  /** Exact two-level money aggregation for LOW-cardinality groups whose
    * per-group row count is unbounded (where a single long accumulator
    * could overflow at extreme scale): level 1 sums LONGS per
    * (input partition, keys) — per-partition row counts are bounded by
    * `spark.sql.files.maxPartitionBytes`, so the partials cannot overflow
    * — and level 2 combines the ≤ |partitions|·|groups| partial rows in
    * DECIMAL(38,0), where the BigDecimal path costs nothing. Emits each
    * summed alias as DECIMAL plus `__cnt` = COUNT(*).
    *
    * High-cardinality keys with semantically bounded group sizes (e.g.
    * per-order aggregates — an order has ≤ 7 lineitems) don't need this:
    * their long sums can't overflow, so they stay single-level. */
  private def twoLevelCents(df: DataFrame, keys: Seq[String],
      sums: Seq[(String, Column)]): DataFrame = {
    val partial = df
      .groupBy(keys.map(col) :+ spark_partition_id().as("__pid"): _*)
      .agg(sum(sums.head._2).as(sums.head._1),
        sums.tail.map { case (a, c) => sum(c).as(a) } :+
          count(lit(1)).as("__n"): _*)
    partial.groupBy(keys.map(col): _*)
      .agg(sum(col(sums.head._1).cast(DecimalType(38, 0))).as(sums.head._1),
        sums.tail.map { case (a, _) =>
          sum(col(a).cast(DecimalType(38, 0))).as(a)
        } :+ sum(col("__n")).as("__cnt"): _*)
  }

  // ---------------------------------------------------------------- q01
  /** Pricing summary: multi-measure hash aggregate (TPC-H Q1 analog).
    * Reference analog: orders.sql case-sum aggregation
    * (test-projects/split/split_proj/models/marts/orders.sql:93-115). */
  def q01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // all money math in exact long cents (see `cents`): quantity in
    // hundredths, price in cents, discounted price in cents×(100-d¢) —
    // scale 4. The discount d ∈ [0, 0.10] in whole cents, so
    // p¢·(100-d¢) = (p·(1-d))·10⁴ exactly.
    val base = Tables.t(s, dir, "lineitem")
      .filter($"l_shipdate" <= ts("2001-09-01 00:00:00"))
      .select($"l_returnflag", $"l_linestatus",
        cents($"l_quantity").as("q2"),
        cents($"l_extendedprice").as("pc"),
        (cents($"l_extendedprice") * (lit(100L) - cents($"l_discount")))
          .as("pd4"))
    twoLevelCents(base, Seq("l_returnflag", "l_linestatus"),
      Seq("sq2" -> $"q2", "spc" -> $"pc", "spd4" -> $"pd4"))
      .select($"l_returnflag", $"l_linestatus",
        dbl($"sq2" / 100).as("sum_qty"),
        dbl($"spc" / 100).as("sum_base_price"),
        dbl(round($"spd4" / 10000, 2)).as("sum_disc_price"),
        (dbl($"sq2" / 100) / $"__cnt").as("avg_qty"),
        $"__cnt".as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
      |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q02
  /** Staging-model projection: rename + cast + arithmetic + filter
    * (stg_orders.sql:15-29 analog incl. the cents_to_dollars macro,
    * macros/cents_to_dollars.sql:3-5). Filter + projection push to scan. */
  /** q02's narrow pipeline before the output sort — split out so the plan
    * audit can assert scan pruning, which the sort's checkpoint boundary
    * hides from the final query's explain. */
  private[ops] def q02Body(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "orders")
      .filter($"o_orderdate" <= ts("2000-12-31 00:00:00"))
      .select(
        $"o_orderkey",
        $"o_custkey",
        lower($"o_orderstatus").as("status"),
        d8($"o_orderdate").as("order_date"),
        dbl(round(dec($"o_totalprice") * lit(0.01).cast(DecimalType(8, 6)), 2)).as("total_dollars"))
  }

  def q02(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Q.sortedNarrow(q02Body(s, dir), $"o_orderkey")
  }

  val q02Sql: String =
    """SELECT o_orderkey, o_custkey, lower(o_orderstatus) AS status,
      |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
      |  CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * CAST(0.01 AS DECIMAL(8,6)), 2) AS DOUBLE) AS total_dollars
      |FROM orders WHERE o_orderdate <= TIMESTAMP '2000-12-31 00:00:00'
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q03
  /** Filtered 3-way join + agg + deterministic top-10 (TPC-H Q3 analog). */
  def q03(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.t(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
    val o = Tables.t(s, dir, "orders").filter($"o_orderdate" < ts("1999-01-01 00:00:00"))
    val l = Tables.t(s, dir, "lineitem").filter($"l_shipdate" > ts("1999-01-01 00:00:00"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy($"l_orderkey", d8($"o_orderdate").as("order_date"))
      // per-order group (≤ 7 rows): exact long cents×(100-d¢), scale 4;
      // the top-10 order over the scaled long equals the decimal order
      .agg(sum(cents($"l_extendedprice") * (lit(100L) - cents($"l_discount")))
        .as("rev"))
      .orderBy($"rev".desc, $"l_orderkey")
      .limit(10)
      .select($"l_orderkey", $"order_date",
        dbl(round($"rev".cast(DecimalType(38, 0)) / 10000, 2)).as("revenue"))
      .orderBy($"l_orderkey")
  }

  val q03Sql: String =
    """SELECT l_orderkey, order_date, CAST(ROUND(rev, 2) AS DOUBLE) AS revenue FROM (
      |  SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS rev
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  WHERE c_mktsegment = 'BUILDING'
      |    AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      |    AND l_shipdate > TIMESTAMP '1999-01-01 00:00:00'
      |  GROUP BY l_orderkey, order_date
      |  ORDER BY rev DESC, l_orderkey LIMIT 10)
      |ORDER BY l_orderkey""".stripMargin

  // ---------------------------------------------------------------- q04
  /** Left join + CASE-sum per order (orders.sql:93-115 order_items join). */
  def q04(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val l = Tables.t(s, dir, "lineitem")
    val p = Tables.t(s, dir, "part")
    l.join(p, l("l_partkey") === p("p_partkey"), "left")
      .groupBy($"l_orderkey")
      .agg(
        count(lit(1)).as("n_items"),
        // per-order long-cents sum: an order has ≤ 7 lineitems, so the
        // accumulator is bounded by data semantics — single-level long
        // stays exact at any corpus scale and on the codegen fast path
        dbl(sum(cents($"l_extendedprice")) / 100).as("gross"),
        sum(when($"p_size" > 25, 1).otherwise(0)).as("n_large_parts"))
      .orderBy($"l_orderkey")
  }

  val q04Sql: String =
    """SELECT l_orderkey, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS gross,
      |  CAST(SUM(CASE WHEN p_size > 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_large_parts
      |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
      |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  // ---------------------------------------------------------------- q05
  /** CASE-conditional aggregate by two keys. */
  def q05(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "orders")
      .groupBy($"o_orderstatus", $"o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when($"o_totalprice" > 250000, 1).otherwise(0)).as("n_big"),
        dbl(sum(when($"o_totalprice" > 250000, dec($"o_totalprice"))
          .otherwise(lit(0).cast(DecimalType(18, 6))))).as("big_total"))
      .orderBy($"o_orderstatus", $"o_orderpriority")
  }

  val q05Sql: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CASE WHEN o_totalprice > 250000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
      |  CAST(SUM(CASE WHEN o_totalprice > 250000 THEN CAST(o_totalprice AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS big_total
      |FROM orders GROUP BY o_orderstatus, o_orderpriority
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q06
  /** lag/lead window per key — the Python-model analog
    * (customer_status_histories.py:17-18 groupby-shift ≈ lag/lead). */
  def q06(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderdate")
      .withColumn("prev_date", lag($"o_orderdate", 1).over(w))
      .withColumn("next_date", lead($"o_orderdate", 1).over(w))
      .select(
        $"o_orderkey", $"o_custkey",
        d8($"o_orderdate").as("order_date"),
        d8($"prev_date").as("prev_date"),
        datediff($"o_orderdate", $"prev_date").as("days_since_prev"),
        d8($"next_date").as("next_date"))
      .orderBy($"o_orderkey")
  }

  val q06Sql: String =
    """SELECT o_orderkey, o_custkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
      |  strftime(prev_date, '%Y-%m-%d') AS prev_date,
      |  CAST(datediff('day', prev_date, o_orderdate) AS INT) AS days_since_prev,
      |  strftime(next_date, '%Y-%m-%d') AS next_date
      |FROM (
      |  SELECT o_orderkey, o_custkey, o_orderdate,
      |    lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_date,
      |    lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_date
      |  FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q07
  /** CTE pipeline → per-customer lifetime mart (customers.sql analog). */
  def q07(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stg = Tables.t(s, dir, "orders")
      .select($"o_custkey", $"o_orderdate", cents($"o_totalprice").as("pc"))
    val lifetime = stg.groupBy($"o_custkey").agg(
      d8(min($"o_orderdate")).as("first_order_date"),
      d8(max($"o_orderdate")).as("last_order_date"),
      count(lit(1)).as("n_orders"),
      // per-customer long-cents sum (bounded per-group order counts)
      dbl(sum($"pc") / 100).as("lifetime_value"))
    val c = Tables.t(s, dir, "customer")
    c.join(lifetime, c("c_custkey") === lifetime("o_custkey"), "left")
      .select(
        $"c_custkey", $"c_name", $"c_mktsegment",
        $"first_order_date", $"last_order_date",
        coalesce($"n_orders", lit(0L)).as("n_orders"),
        coalesce($"lifetime_value", lit(0.0)).as("lifetime_value"))
      .orderBy($"c_custkey")
  }

  val q07Sql: String =
    """WITH stg AS (
      |  SELECT o_custkey, o_orderdate, CAST(o_totalprice AS DECIMAL(18,6)) AS price FROM orders
      |), lifetime AS (
      |  SELECT o_custkey,
      |    strftime(min(o_orderdate), '%Y-%m-%d') AS first_order_date,
      |    strftime(max(o_orderdate), '%Y-%m-%d') AS last_order_date,
      |    COUNT(*) AS n_orders, CAST(SUM(price) AS DOUBLE) AS lifetime_value
      |  FROM stg GROUP BY o_custkey)
      |SELECT c_custkey, c_name, c_mktsegment, first_order_date, last_order_date,
      |  COALESCE(n_orders, 0) AS n_orders,
      |  COALESCE(lifetime_value, 0.0) AS lifetime_value
      |FROM customer LEFT JOIN lifetime ON c_custkey = o_custkey
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q08
  /** Incremental materialization batch: rows newer than the watermark
    * `max(ordered_at) from {{ this }}` (orders.sql:1-24 is_incremental). */
  def q08(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.t(s, dir, "orders")
    val wm = o.agg(date_trunc("month", max($"o_orderdate")).as("wm"))
    o.join(broadcast(wm), o("o_orderdate") >= wm("wm"))
      .select($"o_orderkey", d8($"o_orderdate").as("order_date"), $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  val q08Sql: String =
    """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_totalprice
      |FROM orders
      |WHERE o_orderdate >= (SELECT date_trunc('month', max(o_orderdate)) FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q09
  /** dbt generic data tests as one violation-count query: not_null,
    * unique, relationships, accepted_values
    * (models/staging/__models.yml:8-11, marts/__models.yml:35-47). */
  def q09(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.t(s, dir, "orders")
    val l = Tables.t(s, dir, "lineitem")
    val notNull = o.agg(
      sum(when($"o_custkey".isNull, 1).otherwise(0)).cast(LongType).as("violations"))
      .select(lit("not_null_o_custkey").as("test_name"), $"violations")
    val uniq = o.groupBy($"o_orderkey").count().filter($"count" > 1)
      .agg(count(lit(1)).as("violations"))
      .select(lit("unique_o_orderkey").as("test_name"), $"violations")
    val rel = l.join(o, l("l_orderkey") === o("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .select(lit("relationships_lineitem_orders").as("test_name"), $"violations")
    val accepted = o.filter(!$"o_orderstatus".isin("O", "F", "P"))
      .agg(count(lit(1)).as("violations"))
      .select(lit("accepted_values_o_orderstatus").as("test_name"), $"violations")
    notNull.union(uniq).union(rel).union(accepted).orderBy($"test_name")
  }

  val q09Sql: String =
    """SELECT * FROM (
      |  SELECT 'not_null_o_custkey' AS test_name,
      |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations FROM orders
      |  UNION ALL
      |  SELECT 'unique_o_orderkey', CAST(COUNT(*) AS BIGINT) FROM
      |    (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)
      |  UNION ALL
      |  SELECT 'relationships_lineitem_orders', CAST(COUNT(*) AS BIGINT) FROM lineitem
      |    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
      |  UNION ALL
      |  SELECT 'accepted_values_o_orderstatus', CAST(COUNT(*) AS BIGINT) FROM orders
      |    WHERE o_orderstatus NOT IN ('O','F','P'))
      |ORDER BY test_name""".stripMargin

  // ---------------------------------------------------------------- q10
  /** Semi/anti join: customers with an open order and no finished order. */
  def q10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.t(s, dir, "customer")
    val o = Tables.t(s, dir, "orders")
    val open = o.filter($"o_orderstatus" === "O").select($"o_custkey")
    val done = o.filter($"o_orderstatus" === "F").select($"o_custkey")
    c.join(open, c("c_custkey") === open("o_custkey"), "left_semi")
      .join(done, c("c_custkey") === done("o_custkey"), "left_anti")
      .groupBy($"c_mktsegment").agg(count(lit(1)).as("n_customers"))
      .orderBy($"c_mktsegment")
  }

  val q10Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_customers FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q11
  /** Deterministic top-k per group via row_number. */
  def q11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"c_mktsegment")
      .orderBy($"c_acctbal".desc, $"c_custkey")
    Tables.t(s, dir, "customer")
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"c_mktsegment", $"rank", $"c_custkey", $"c_acctbal")
      .orderBy($"c_mktsegment", $"rank")
  }

  val q11Sql: String =
    """SELECT c_mktsegment, rank, c_custkey, c_acctbal FROM (
      |  SELECT c_mktsegment, c_custkey, c_acctbal,
      |    CAST(row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rank
      |  FROM customer)
      |WHERE rank <= 3 ORDER BY c_mktsegment, rank""".stripMargin

  // ---------------------------------------------------------------- q12
  /** 5-way star join — the flagship plan shape for 100 TB: fact table
    * streams once, fixed-cardinality dims (nation=25, region=5) broadcast
    * unconditionally, while supplier — which scales linearly with SF
    * (10k·SF rows, ~150 GB at the 100 TB point) — carries no hint so AQE
    * broadcasts it only while it fits; one shuffle for the final
    * aggregate. */
  def q12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val l = Tables.t(s, dir, "lineitem")
    val o = Tables.t(s, dir, "orders")
      .filter($"o_orderdate" >= ts("1996-01-01 00:00:00"))
      .select($"o_orderkey")
    val sup = Tables.t(s, dir, "supplier").select($"s_suppkey", $"s_nationkey")
    val n = Tables.t(s, dir, "nation").select($"n_nationkey", $"n_name", $"n_regionkey")
    val r = Tables.t(s, dir, "region")
    val joined = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(sup, l("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select($"r_name", $"n_name",
        (cents($"l_extendedprice") * (lit(100L) - cents($"l_discount")))
          .as("pd4"))
    // 25 (region, nation) groups with unbounded rows per group → exact
    // two-level long-cents aggregation (see twoLevelCents)
    twoLevelCents(joined, Seq("r_name", "n_name"), Seq("spd4" -> $"pd4"))
      .select($"r_name", $"n_name",
        dbl(round($"spd4" / 10000, 2)).as("revenue"),
        $"__cnt".as("n_lines"))
      .orderBy($"r_name", $"n_name")
  }

  val q12Sql: String =
    """SELECT r_name, n_name,
      |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_lines
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  // ---------------------------------------------------------------- q13
  /** Event-stream tumbling-window aggregate: the hourly rollup, in batch
    * form. */
  def q13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "events")
      .groupBy(
        $"event_type",
        date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm").as("hour"))
      .agg(
        count(lit(1)).as("n_events"),
        // long-cents sum (events.value is 2-decimal money); the query is
        // already shuffled per (type, hour) for countDistinct anyway
        dbl(sum(cents($"value")) / 100).as("total_value"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"event_type", $"hour")
  }

  val q13Sql: String =
    """SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY event_type, hour ORDER BY event_type, hour""".stripMargin

  // ---------------------------------------------------------------- q14
  /** ROLLUP hierarchy aggregate (grouping sets family). */
  def q14(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // two-level rollup, same shape as q14b: exact long-cents cells first,
    // then ROLLUP over the handful of cells
    val base = Tables.t(s, dir, "lineitem")
      .select($"l_returnflag", $"l_linestatus", cents($"l_quantity").as("q2"))
    twoLevelCents(base, Seq("l_returnflag", "l_linestatus"), Seq("sq2" -> $"q2"))
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(dbl(sum($"sq2") / 100).as("sum_qty"), sum($"__cnt").as("n"))
      .select(
        coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
        coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
        $"sum_qty", $"n")
      .orderBy($"returnflag", $"linestatus")
  }

  val q14Sql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |  COALESCE(l_linestatus, 'ALL') AS linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  // --------------------------------------------------------------- q14b
  /** CUBE over returnflag × linestatus: all four grouping combinations in
    * one pass (Catalyst expands grouping sets before the single shuffle —
    * no per-combination rescans). Differs from q14's ROLLUP by the
    * (ALL, linestatus) marginals. */
  def q14b(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // two-level cube: aggregate to the base (returnflag, linestatus) cells
    // first — ONE shuffle of map-side partial aggs — then cube the handful
    // of cells. A direct .cube() Expands every input row 4× before the
    // shuffle; re-aggregating sums-of-sums is exact (decimal domain) and
    // turns the 4× shuffle volume into a constant-size rollup.
    val base = Tables.t(s, dir, "lineitem")
      .select($"l_returnflag", $"l_linestatus",
        cents($"l_extendedprice").as("pc"))
    twoLevelCents(base, Seq("l_returnflag", "l_linestatus"), Seq("spc" -> $"pc"))
      .cube($"l_returnflag", $"l_linestatus")
      .agg(dbl(sum($"spc") / 100).as("sum_price"), sum($"__cnt").as("n"))
      .select(
        coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
        coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
        $"sum_price", $"n")
      .orderBy($"returnflag", $"linestatus")
  }

  val q14bSql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |  COALESCE(l_linestatus, 'ALL') AS linestatus,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  // ---------------------------------------------------------------- q15
  /** Exact distinct-count aggregate. */
  def q15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "lineitem")
      .groupBy($"l_linestatus")
      .agg(
        countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey").as("n_supps"),
        count(lit(1)).as("n_lines"))
      .orderBy($"l_linestatus")
  }

  val q15Sql: String =
    """SELECT l_linestatus, COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_lines
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q16
  /** Set operations: INTERSECT / EXCEPT with distinct semantics. */
  def q16(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.t(s, dir, "orders")
    val l = Tables.t(s, dir, "lineitem")
    val finished = o.filter($"o_orderstatus" === "F").select($"o_orderkey")
    val big = o.filter($"o_totalprice" > 300000).select($"o_orderkey")
    val discounted = l.filter($"l_discount" > 0.08)
      .select($"l_orderkey".as("o_orderkey"))
    finished.intersect(big).except(discounted)
      .orderBy($"o_orderkey")
  }

  val q16Sql: String =
    """(SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
      | INTERSECT
      | SELECT o_orderkey FROM orders WHERE o_totalprice > 300000)
      |EXCEPT
      |SELECT l_orderkey AS o_orderkey FROM lineitem WHERE l_discount > 0.08
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q19
  /** Semi-structured extraction: per-type stats over a JSON props column.
    * `get_json_object` is a codegen'd path expression — the JSON parse
    * happens once per row in the scan stage, no UDF; at scale prefer
    * `from_json` with an explicit schema so the parse is vectorizable and
    * the extracted column prunes/pushes like any other. */
  def q19(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "events")
      .withColumn("k", get_json_object($"props", "$.k").cast(LongType))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        sum($"k").as("sum_k"),
        min($"k").as("min_k"),
        max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  val q19Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q20
  /** Pure range join (no equi key): each purchase picks up the clicks of
    * ANY user in the following 10 minutes. Naive is |P|·|C|; the scale
    * plan buckets both sides on 10-minute windows and equi-joins on the
    * bucket id (each purchase probes its own bucket and the next), turning
    * the cross product into a partitioned hash join + residual range
    * filter — the standard interval-bucketing range-join shape. */
  def q20(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.t(s, dir, "events")
    val bucket = (c: Column) => floor(c.cast(DoubleType) / 600).cast(LongType)
    val p = e.filter($"event_type" === "purchase")
      .select($"event_id".as("pid"), $"ts".as("pts"))
      .withColumn("b", explode(array(bucket($"pts"), bucket($"pts") + 1)))
    val c = e.filter($"event_type" === "click")
      .select($"ts".as("cts"), $"value", bucket($"cts").as("b"))
    val hits = p.join(c, Seq("b"))
      .filter($"cts" > $"pts" && $"cts" <= $"pts" + expr("INTERVAL 10 MINUTES"))
      .groupBy($"pid")
      // ≤ 10 minutes of clicks per purchase: bounded group, long cents
      .agg(count(lit(1)).as("n_clicks"), sum(cents($"value")).as("sv"))
    e.filter($"event_type" === "purchase").select($"event_id".as("pid"))
      .join(hits, Seq("pid"), "left")
      .select(
        $"pid".as("event_id"),
        coalesce($"n_clicks", lit(0L)).as("n_clicks"),
        dbl(coalesce($"sv", lit(0L)) / 100).as("click_value"))
      .orderBy($"event_id")
  }

  val q20Sql: String =
    """SELECT p.event_id,
      |  COUNT(c.ts) AS n_clicks,
      |  CAST(COALESCE(SUM(CAST(c.value AS DECIMAL(18,6))), 0) AS DOUBLE) AS click_value
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON c.ts > p.ts AND c.ts <= p.ts + INTERVAL 10 MINUTE
      |GROUP BY p.event_id ORDER BY p.event_id""".stripMargin

  // ---------------------------------------------------------------- q21
  /** Skew-safe two-phase (salted) aggregation: `events` has ~5 distinct
    * event types, so a direct groupBy at cluster scale lands the whole
    * table on 5 reducers. Phase 1 aggregates on (key, salt) — 32-way
    * spread of each hot key; phase 2 merges the 5×32 partials. The salt is
    * derived from a row attribute (not random) so results are exact and
    * re-runs are deterministic. Decimal-domain sums make the two-phase
    * result bit-identical to a direct aggregation. */
  def q21(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "events")
      .withColumn("salt", pmod($"event_id", lit(32)))
      .groupBy($"event_type", $"salt")
      .agg(
        count(lit(1)).as("pn"),
        // exact long-cents partials; the phase-2 merge re-sums the ≤
        // |salts|·|types| partial rows in DECIMAL(38), so the two-phase
        // result stays bit-identical to a direct decimal aggregation
        sum(cents($"value")).as("psum"),
        min($"value").as("pmin"),
        max($"value").as("pmax"))
      .groupBy($"event_type")
      .agg(
        sum($"pn").as("n_events"),
        dbl(sum($"psum".cast(DecimalType(38, 0))) / 100).as("total_value"),
        min($"pmin").as("min_value"),
        max($"pmax").as("max_value"))
      .orderBy($"event_type")
  }

  /** The oracle is the DIRECT aggregation — the salted plan must be
    * indistinguishable from it. */
  val q21Sql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
      |  MIN(value) AS min_value,
      |  MAX(value) AS max_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q22
  /** Exact median per group via rank arithmetic — percentile_cont's
    * interpolation differs by ulps across engines, so the median is
    * computed from the middle-ranked rows and averaged in DECIMAL, which
    * is bit-exact everywhere. One shuffle (the window partition). */
  def q22(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice", $"o_orderkey")
    Tables.t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"o_orderpriority")))
      .groupBy($"o_orderpriority")
      .agg(
        dbl(sum(when(expr("rn IN ((n + 1) div 2, (n + 2) div 2)"),
          dec($"o_totalprice"))) /
          count(when(expr("rn IN ((n + 1) div 2, (n + 2) div 2)"), lit(1))))
          .as("median_price"),
        max($"n").as("n_orders"))
      .orderBy($"o_orderpriority")
  }

  val q22Sql: String =
    """WITH r AS (
      |  SELECT o_orderpriority, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice, o_orderkey) AS rn,
      |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      |  FROM orders)
      |SELECT o_orderpriority,
      |  CAST(SUM(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2)
      |      THEN CAST(o_totalprice AS DECIMAL(18,6)) END) /
      |    COUNT(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2) THEN 1 END)
      |    AS DOUBLE) AS median_price,
      |  MAX(n) AS n_orders
      |FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q23
  /** Ordered conversion funnel (signup → click → purchase, each within a
    * 48 h window of the previous stage's first event). Each stage is one
    * groupBy over a key-partitioned join with the previous stage — the
    * per-stage min-ts formulation never materializes event sequences per
    * user, so stage state is one row per user, not the history. */
  def q23(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.t(s, dir, "events")
    def stage(prev: DataFrame, prevTs: String, evType: String, outTs: String): DataFrame =
      e.filter($"event_type" === evType)
        .join(prev, Seq("user_id"))
        .filter($"ts" > col(prevTs) && $"ts" <= col(prevTs) + expr("INTERVAL 48 HOURS"))
        .groupBy($"user_id").agg(min($"ts").as(outTs))
    val signup = e.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"ts").as("t0"))
    val click = stage(signup, "t0", "click", "t1")
    val purchase = stage(click, "t1", "purchase", "t2")
    signup.agg(count(lit(1)).as("n_signup"))
      .crossJoin(click.agg(count(lit(1)).as("n_click_within")))
      .crossJoin(purchase.agg(count(lit(1)).as("n_purchase_within")))
  }

  val q23Sql: String =
    """WITH s AS (
      |  SELECT user_id, MIN(ts) AS t0 FROM events
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, MIN(e.ts) AS t1
      |  FROM events e JOIN s ON e.user_id = s.user_id
      |    AND e.ts > s.t0 AND e.ts <= s.t0 + INTERVAL 48 HOUR
      |  WHERE e.event_type = 'click' GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, MIN(e.ts) AS t2
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |    AND e.ts > c.t1 AND e.ts <= c.t1 + INTERVAL 48 HOUR
      |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
      |SELECT (SELECT COUNT(*) FROM s) AS n_signup,
      |       (SELECT COUNT(*) FROM c) AS n_click_within,
      |       (SELECT COUNT(*) FROM p) AS n_purchase_within""".stripMargin

  // ---------------------------------------------------------------- q24
  /** Pivot (long→wide reshape): daily event counts spread into one column
    * per event type. Lowered to conditional aggregates rather than
    * `Dataset.pivot`: with a known value list, `count(when(type=v,1))`
    * per value is ONE shuffle with map-side partials, whereas `.pivot`
    * (even with explicit values) plans the two-phase pivotfirst shape —
    * a (day,type) pre-aggregation shuffle plus a second (day) shuffle —
    * and an implicit pivot would add a distinct-values job on top (a full
    * extra scan at 100 TB). Same result, strictly cheaper plan. */
  def q24(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.t(s, dir, "events")
      .select(to_date($"ts").cast(StringType).as("day"), $"event_type")
      .groupBy($"day")
      .agg(
        count(when($"event_type" === types.head, 1)).as(s"n_${types.head}"),
        types.tail.map(t =>
          count(when($"event_type" === t, 1)).as(s"n_$t")): _*)
      .orderBy($"day")
  }

  val q24Sql: String =
    """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
      |  COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
      |  COUNT(*) FILTER (WHERE event_type = 'error') AS n_error,
      |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
      |  COUNT(*) FILTER (WHERE event_type = 'signup') AS n_signup,
      |  COUNT(*) FILTER (WHERE event_type = 'view') AS n_view
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- q25
  /** Explicit GROUPING SETS — the general member of the rollup/cube family
    * (q14/q14b): exactly the (status, priority), (status) and () cells,
    * skipping the (priority) marginal a CUBE would also compute. Same
    * two-level shape as q14: exact long-cents partials aggregate to the
    * few base cells first (one shuffle of map-side partials), then the
    * grouping-set expansion runs over those cells, not over raw rows. */
  def q25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.t(s, dir, "orders")
      .select($"o_orderstatus", $"o_orderpriority", cents($"o_totalprice").as("pc"))
    twoLevelCents(base, Seq("o_orderstatus", "o_orderpriority"), Seq("spc" -> $"pc"))
      .groupingSets(
        Seq(Seq($"o_orderstatus", $"o_orderpriority"), Seq($"o_orderstatus"), Seq()),
        $"o_orderstatus", $"o_orderpriority")
      .agg(dbl(sum($"spc") / 100).as("sum_price"), sum($"__cnt").as("n"))
      .select(
        coalesce($"o_orderstatus", lit("ALL")).as("status"),
        coalesce($"o_orderpriority", lit("ALL")).as("priority"),
        $"sum_price", $"n")
      .orderBy($"status", $"priority")
  }

  val q25Sql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |  COALESCE(o_orderpriority, 'ALL') AS priority,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
      |  COUNT(*) AS n
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
      |ORDER BY status, priority""".stripMargin

  // ---------------------------------------------------------------- q26
  /** Exact per-group quartiles (percentile_disc semantics) — q22's median
    * generalized: rank each order's price inside its priority class and
    * pick the rows at ceil(q·n) for q ∈ {¼, ½, ¾}. Index selection is
    * integer arithmetic ((n+3)/4 etc.), so the result is engine-exact with
    * no interpolation FP. One shuffle for the window, one for the final
    * group-agg; at scale the window partitions by the group key, so skew
    * maps to group size, not table size. */
  def q26(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice", $"o_orderkey")
    val ranked = Tables.t(s, dir, "orders")
      .select($"o_orderpriority", $"o_totalprice", $"o_orderkey")
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"o_orderpriority")))
    // `div` = integer division (Spark's `/` is always double division)
    def pick(idx: Column): Column = max(when($"rn" === idx, $"o_totalprice"))
    ranked.groupBy($"o_orderpriority")
      .agg(
        pick(expr("(n + 3) div 4")).as("p25"),
        pick(expr("(n + 1) div 2")).as("p50"),
        pick(expr("(n * 3 + 3) div 4")).as("p75"),
        max($"n").as("n_orders"))
      .orderBy($"o_orderpriority")
  }

  val q26Sql: String =
    """WITH r AS (
      |  SELECT o_orderpriority, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice, o_orderkey) AS rn,
      |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      |  FROM orders)
      |SELECT o_orderpriority,
      |  MAX(CASE WHEN rn = (n + 3) // 4 THEN o_totalprice END) AS p25,
      |  MAX(CASE WHEN rn = (n + 1) // 2 THEN o_totalprice END) AS p50,
      |  MAX(CASE WHEN rn = (n * 3 + 3) // 4 THEN o_totalprice END) AS p75,
      |  MAX(n) AS n_orders
      |FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q27
  /** Correlated scalar subquery, decorrelated: orders whose value is
    * strictly above their customer's average order value. The textbook
    * form (`WHERE price > (SELECT avg(...) WHERE same customer)`) is what
    * the oracle runs; on Spark the idiomatic plan is the decorrelated one
    * — a window aggregate over `o_custkey` — which is also what Catalyst
    * itself rewrites correlated subqueries into. One shuffle (hash by
    * customer), no self-join, no second scan of `orders`.
    *
    * Exactness: the comparison `price > avg` is done in the integer
    * domain as `cents(price) * n > sum_cents` — no division before the
    * predicate, so the row set is bit-identical in any engine. The
    * reported average is one IEEE division of two exact integers. */
  def q27(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
    Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", cents($"o_totalprice").as("pc"))
      .withColumn("spc", sum($"pc").over(w))
      .withColumn("n", count(lit(1)).over(w))
      .filter($"pc" * $"n" > $"spc")
      .select(
        $"o_orderkey", $"o_custkey",
        dbl($"pc" / 100).as("total_price"),
        (dbl($"spc") / ($"n" * 100)).as("cust_avg"),
        $"n".as("n_cust_orders"))
      .orderBy($"o_orderkey")
  }

  val q27Sql: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DOUBLE) / 100 AS total_price,
      |  (SELECT CAST(SUM(CAST(round(o2.o_totalprice * 100) AS BIGINT)) AS DOUBLE)
      |          / (COUNT(*) * 100)
      |   FROM orders o2 WHERE o2.o_custkey = o.o_custkey) AS cust_avg,
      |  (SELECT COUNT(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |    AS n_cust_orders
      |FROM orders o
      |WHERE CAST(round(o_totalprice * 100) AS BIGINT) *
      |      (SELECT COUNT(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey) >
      |      (SELECT SUM(CAST(round(o2.o_totalprice * 100) AS BIGINT))
      |       FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q28
  /** Time-range sliding window: per customer, the trailing-30-day order
    * revenue at each order — `RANGE BETWEEN` semantics (all peers within
    * the interval), not `ROWS` (a fixed count). Spark expresses this as
    * `rangeBetween` over the epoch-seconds ordering key; the frame is a
    * value range, so ties on the date enter the frame together in any
    * engine. Money summed in long cents inside the frame — exact.
    *
    * Scale: one shuffle (hash by customer), then a per-partition ordered
    * scan with a sliding frame — O(rows) with a two-pointer frame, no
    * per-row rescan; skew maps to the largest single customer. */
  def q28(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // orderdate is TIMESTAMP_NTZ; the range frame needs an integral key —
    // NTZ→timestamp is exact under the session's pinned UTC zone
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".cast(TimestampType).cast(LongType))
      .rangeBetween(-30L * 86400, 0)
    Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderdate",
        cents($"o_totalprice").as("pc"))
      .withColumn("trail_pc", sum($"pc").over(w))
      .withColumn("n_in_window", count(lit(1)).over(w))
      .select(
        $"o_orderkey", $"o_custkey",
        d8($"o_orderdate").as("order_date"),
        dbl($"trail_pc" / 100).as("trailing_30d_revenue"),
        $"n_in_window")
      .orderBy($"o_orderkey")
  }

  val q28Sql: String =
    """SELECT o_orderkey, o_custkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
      |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS DOUBLE)
      |    / 100 AS trailing_30d_revenue,
      |  COUNT(*) OVER w AS n_in_window
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
      |  RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q29
  /** Hand-salted skew-safe JOIN — the join-side companion of q21's salted
    * aggregation, for the case AQE cannot always rescue: a large fact
    * table whose join key is pathologically hot (here `events.user_id`,
    * 150 distinct keys over the whole table) joined to a dimension too
    * big or too dynamic to broadcast. The big side salts its key
    * (deterministic `pmod(hash, S)`); the small side replicates each row
    * S ways (explode over the salt domain); the join runs on (key, salt)
    * so one hot key spreads over S reducers instead of one. The result is
    * identical to the unsalted join — verified by the oracle running the
    * plain form.
    *
    * Scale: replication costs S× the DIMENSION (small), buys S-way
    * parallelism on the FACT (huge). S is a static 8 here; production
    * derives it from key-frequency stats. */
  def q29(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val S = 8
    val ev = Tables.t(s, dir, "events")
      .select($"user_id", cents($"value").as("vc"),
        pmod(hash($"event_id"), lit(S)).as("salt"))
    val cust = Tables.t(s, dir, "customer")
      .select($"c_custkey", $"c_mktsegment",
        explode(sequence(lit(0), lit(S - 1))).as("salt"))
    ev.join(cust, $"user_id" === $"c_custkey" && ev("salt") === cust("salt"))
      .groupBy($"c_mktsegment")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        dbl(sum($"vc") / 100).as("total_value"))
      .orderBy($"c_mktsegment")
  }

  val q29Sql: String =
    """SELECT c_mktsegment,
      |  COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100
      |    AS total_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q30
  /** Backfill/incremental parity audit via EXCEPT ALL — the multiset data
    * diff (q16's EXCEPT is set-distinct): compare the full batch view of
    * `orders` against its incremental twin cut at a watermark and emit
    * every row present on exactly one side, tagged. MULTISET semantics
    * matter for an audit: a row duplicated on one side only is a real
    * discrepancy that DISTINCT-based EXCEPT would hide.
    *
    * This is the batch form of the kappa check (backfill == live); run
    * nightly it catches drift from late data, replays, or logic skew
    * between the two paths. */
  def q30(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def proj(df: DataFrame): DataFrame = df.select(
      $"o_orderkey", $"o_custkey",
      d8($"o_orderdate").as("order_date"),
      dbl(cents($"o_totalprice") / 100).as("total_price"))
    val full = proj(Tables.t(s, dir, "orders"))
    val incr = proj(Tables.t(s, dir, "orders")
      .filter($"o_orderdate" < ts("1998-10-01 00:00:00")))
    full.exceptAll(incr).withColumn("side", lit("full_only"))
      .unionByName(incr.exceptAll(full).withColumn("side", lit("incr_only")))
      .orderBy($"side", $"o_orderkey")
  }

  val q30Sql: String =
    """WITH f AS (
      |  SELECT o_orderkey, o_custkey,
      |    strftime(o_orderdate, '%Y-%m-%d') AS order_date,
      |    CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DOUBLE) / 100
      |      AS total_price
      |  FROM orders),
      |i AS (
      |  SELECT o_orderkey, o_custkey,
      |    strftime(o_orderdate, '%Y-%m-%d') AS order_date,
      |    CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DOUBLE) / 100
      |      AS total_price
      |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-10-01 00:00:00')
      |SELECT *, 'full_only' AS side FROM (SELECT * FROM f EXCEPT ALL SELECT * FROM i)
      |UNION ALL
      |SELECT *, 'incr_only' AS side FROM (SELECT * FROM i EXCEPT ALL SELECT * FROM f)
      |ORDER BY side, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q31
  /** FULL OUTER JOIN of two per-user aggregates — the reconciliation
    * shape (big purchasers vs big error-reporters; the >250 value slices
    * make each side genuinely miss users the other has): users on either
    * side only must survive with zero-filled measures. Spark's `Seq(key)`
    * full join coalesces the key natively (same as SQL `USING`), so no
    * post-join key repair. Both inputs are pre-aggregated before the
    * join: the join runs on |users| rows, not |events|, and the two
    * aggregations share one scan of `events` under Spark's plan-level
    * scan reuse. */
  def q31(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.t(s, dir, "events")
    val p = e.filter($"event_type" === "purchase" && $"value" > 250)
      .groupBy($"user_id")
      // per-user long-cents sum: bounded by one user's purchase history
      .agg(count(lit(1)).as("n_purchases"), sum(cents($"value")).as("pc"))
    val x = e.filter($"event_type" === "error" && $"value" > 250)
      .groupBy($"user_id").agg(count(lit(1)).as("n_errors"))
    p.join(x, Seq("user_id"), "full_outer")
      .select($"user_id",
        coalesce($"n_purchases", lit(0L)).as("n_purchases"),
        dbl(coalesce($"pc", lit(0L)) / 100).as("purchase_value"),
        coalesce($"n_errors", lit(0L)).as("n_errors"))
      .orderBy($"user_id")
  }

  val q31Sql: String =
    """WITH p AS (
      |  SELECT user_id, COUNT(*) AS n_purchases,
      |    SUM(CAST(round(value * 100) AS BIGINT)) AS pc
      |  FROM events WHERE event_type = 'purchase' AND value > 250
      |  GROUP BY user_id),
      |x AS (
      |  SELECT user_id, COUNT(*) AS n_errors
      |  FROM events WHERE event_type = 'error' AND value > 250
      |  GROUP BY user_id)
      |SELECT user_id, COALESCE(n_purchases, 0) AS n_purchases,
      |  CAST(COALESCE(pc, 0) AS DOUBLE) / 100 AS purchase_value,
      |  COALESCE(n_errors, 0) AS n_errors
      |FROM p FULL JOIN x USING (user_id) ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q32
  /** LEFT JOIN with a non-equi residual in the ON clause: the extra
    * predicates (`p_size > 40 AND p_retailprice < 1500`) gate the MATCH,
    * not the left rows — a WHERE would wrongly drop unmatched lineitems.
    * Catalyst keeps the equi key for the hash join and evaluates the
    * residual on probe. No broadcast hint: `part` grows with the corpus
    * (~1/30 of lineitem), so whether it fits the broadcast threshold is
    * a runtime-size question — AQE picks broadcast when it does and
    * falls back to a shuffled hash join when it doesn't, which a forced
    * hint would turn into an executor OOM at the 100 TB design point. */
  def q32(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val l = Tables.t(s, dir, "lineitem")
    val p = Tables.t(s, dir, "part")
    l.join(p,
        l("l_partkey") === p("p_partkey") &&
          p("p_size") > 40 && p("p_retailprice") < 1500,
        "left")
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n_lines"),
        count($"p_partkey").as("n_matched"),
        countDistinct($"l_orderkey").as("n_orders"))
      .orderBy($"l_returnflag")
  }

  val q32Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n_lines, COUNT(p_partkey) AS n_matched,
      |  COUNT(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem LEFT JOIN part
      |  ON l_partkey = p_partkey AND p_size > 40 AND p_retailprice < 1500
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q33
  /** Calendar-part aggregate: year/quarter extraction in the grouping
    * key — the partition-pruning shape (a production lake would
    * partition by these columns and the filterless rollup becomes
    * per-partition metadata math). Sums in DECIMAL: low-cardinality
    * groups with unbounded rows. */
  def q33(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "orders")
      .groupBy(
        year($"o_orderdate").as("yr"),
        quarter($"o_orderdate").as("qtr"))
      .agg(
        count(lit(1)).as("n_orders"),
        dbl(sum(dec($"o_totalprice"))).as("revenue"),
        countDistinct(month($"o_orderdate")).as("n_months"),
        min(dayofmonth($"o_orderdate")).as("first_dom"),
        max(dayofmonth($"o_orderdate")).as("last_dom"))
      .orderBy($"yr", $"qtr")
  }

  val q33Sql: String =
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
      |  CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS qtr,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |  COUNT(DISTINCT EXTRACT(month FROM o_orderdate)) AS n_months,
      |  CAST(MIN(EXTRACT(day FROM o_orderdate)) AS INT) AS first_dom,
      |  CAST(MAX(EXTRACT(day FROM o_orderdate)) AS INT) AS last_dom
      |FROM orders GROUP BY 1, 2 ORDER BY yr, qtr""".stripMargin

  // ---------------------------------------------------------------- q34
  /** Deterministic arg-min/arg-max per group WITHOUT a window: Spark
    * orders structs lexicographically by field position, so
    * `min(struct(date, key, payload))` is "the payload of the earliest
    * (date, key) row" — a plain hash aggregate (ONE shuffle, map-side
    * partials) where the window formulation (q11/q22's shape) needs a
    * full partition sort. The tie-break key inside the struct makes the
    * result total-order deterministic under any partitioning. */
  def q34(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "orders")
      .select($"o_custkey",
        struct($"o_orderdate", $"o_orderkey", cents($"o_totalprice").as("pc"))
          .as("rec"))
      .groupBy($"o_custkey")
      .agg(min($"rec").as("f"), max($"rec").as("l"), count(lit(1)).as("n_orders"))
      .select($"o_custkey",
        d8($"f.o_orderdate").as("first_date"),
        $"f.o_orderkey".as("first_orderkey"),
        dbl($"f.pc" / 100).as("first_price"),
        d8($"l.o_orderdate").as("last_date"),
        $"l.o_orderkey".as("last_orderkey"),
        dbl($"l.pc" / 100).as("last_price"),
        $"n_orders")
      .orderBy($"o_custkey")
  }

  val q34Sql: String =
    """WITH r AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey) AS rf,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rl,
      |    COUNT(*) OVER (PARTITION BY o_custkey) AS n
      |  FROM orders)
      |SELECT o_custkey,
      |  MAX(CASE WHEN rf = 1 THEN strftime(o_orderdate, '%Y-%m-%d') END) AS first_date,
      |  MAX(CASE WHEN rf = 1 THEN o_orderkey END) AS first_orderkey,
      |  CAST(MAX(CASE WHEN rf = 1 THEN pc END) AS DOUBLE) / 100 AS first_price,
      |  MAX(CASE WHEN rl = 1 THEN strftime(o_orderdate, '%Y-%m-%d') END) AS last_date,
      |  MAX(CASE WHEN rl = 1 THEN o_orderkey END) AS last_orderkey,
      |  CAST(MAX(CASE WHEN rl = 1 THEN pc END) AS DOUBLE) / 100 AS last_price,
      |  MAX(n) AS n_orders
      |FROM r GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- q37
  /** Unpivot (wide→long melt) — the inverse reshape of q24: the pivoted
    * daily per-type counts melted back to (day, event_type, n) rows,
    * INCLUDING the zero cells a direct long aggregation would never
    * produce (that's what makes melt a reshape, not a re-aggregation).
    *
    * Lowered to `stack`, which plans as a narrow Generate (row expand)
    * directly over q24's one-shuffle conditional aggregate — melt adds
    * NO exchange at any scale: ×5 rows map-side, then the final
    * order-by on the tiny (days × types) output. The oracle lowers the
    * same reshape to the classic UNION ALL form. */
  def q37(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    val wide = Tables.t(s, dir, "events")
      .select(to_date($"ts").cast(StringType).as("day"), $"event_type")
      .groupBy($"day")
      .agg(
        count(when($"event_type" === types.head, 1)).as(s"n_${types.head}"),
        types.tail.map(t =>
          count(when($"event_type" === t, 1)).as(s"n_$t")): _*)
    val stackArgs = types.map(t => s"'$t', n_$t").mkString(", ")
    wide
      .select($"day",
        expr(s"stack(${types.size}, $stackArgs) AS (event_type, n)"))
      .orderBy($"day", $"event_type")
  }

  val q37Sql: String = {
    val wide = """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
      |  COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
      |  COUNT(*) FILTER (WHERE event_type = 'error') AS n_error,
      |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
      |  COUNT(*) FILTER (WHERE event_type = 'signup') AS n_signup,
      |  COUNT(*) FILTER (WHERE event_type = 'view') AS n_view
      |FROM events GROUP BY 1""".stripMargin
    val arms = Seq("click", "error", "purchase", "signup", "view")
      .map(t => s"SELECT day, '$t' AS event_type, n_$t AS n FROM wide")
      .mkString("\n", "\nUNION ALL ", "")
    s"WITH wide AS ($wide)$arms\nORDER BY day, event_type"
  }

  // ---------------------------------------------------------------- q44
  /** Join-key skew profile of lineitem's l_orderkey — the meter read
    * BEFORE reaching for q21/q29's salting: exact p50/p99/max rows-per-
    * key plus the heaviest key's ppm share of the table. A p99/p50 ratio
    * near 1 means salting is wasted work; a six-figure top1_ppm means
    * one key will pin a reducer however many partitions you add.
    *
    * Scale (100 TB): percentiles over per-key counts WITHOUT sorting the
    * keys — the count table collapses to its count-of-counts histogram
    * (|distinct count values| rows, tiny at any corpus size: row counts
    * per key are small integers), and the exact percentile is the first
    * histogram bucket whose cumulative key count crosses the integer-
    * cross-multiplied threshold (2·cum ≥ n ⇔ cum ≥ ⌈n/2⌉). One heavy
    * map-side-combinable shuffle on the key; everything after runs on
    * the histogram. All arithmetic integer — engine-exact. */
  def q44(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hist = Tables.t(s, dir, "lineitem")
      .groupBy($"l_orderkey").agg(count(lit(1)).as("cnt"))
      .groupBy($"cnt").agg(count(lit(1)).as("n_keys"))
    // the totals ride the SAME single-partition histogram sort as the
    // cumulative sum (full-frame windows) — computing them as a separate
    // aggregate would re-run the whole key-count pipeline for a join
    val wCum = Window.orderBy($"cnt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy($"cnt")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist
      .withColumn("cum_keys", sum($"n_keys").over(wCum))
      .withColumn("nk", sum($"n_keys").over(wAll))
      .withColumn("nr", sum($"cnt" * $"n_keys").over(wAll))
      .withColumn("mx", max($"cnt").over(wAll))
      .agg(
        min($"nr").as("n_rows"),
        min($"nk").as("n_keys"),
        min(when($"cum_keys" * 2 >= $"nk", $"cnt")).as("p50_rows_per_key"),
        min(when($"cum_keys" * 100 >= $"nk" * 99, $"cnt")).as("p99_rows_per_key"),
        min($"mx").as("max_rows_per_key"))
      .select(
        $"n_rows", $"n_keys", $"p50_rows_per_key", $"p99_rows_per_key",
        $"max_rows_per_key",
        expr("(max_rows_per_key * 1000000) div n_rows").as("top1_ppm"))
  }

  val q44Sql: String =
    """WITH counts AS (
      |  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM lineitem GROUP BY 1),
      |hist AS (SELECT cnt, CAST(COUNT(*) AS BIGINT) AS n_keys
      |         FROM counts GROUP BY 1),
      |cum AS (SELECT cnt, n_keys,
      |    CAST(SUM(n_keys) OVER (ORDER BY cnt ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS cum_keys,
      |    CAST(SUM(n_keys) OVER () AS BIGINT) AS nk,
      |    CAST(SUM(cnt * n_keys) OVER () AS BIGINT) AS nr,
      |    MAX(cnt) OVER () AS mx
      |  FROM hist)
      |SELECT CAST(MIN(nr) AS BIGINT) AS n_rows,
      |  CAST(MIN(nk) AS BIGINT) AS n_keys,
      |  MIN(CASE WHEN cum_keys * 2 >= nk THEN cnt END) AS p50_rows_per_key,
      |  MIN(CASE WHEN cum_keys * 100 >= nk * 99 THEN cnt END) AS p99_rows_per_key,
      |  CAST(MIN(mx) AS BIGINT) AS max_rows_per_key,
      |  CAST((MIN(mx) * 1000000) // MIN(nr) AS BIGINT) AS top1_ppm
      |FROM cum""".stripMargin

  // ---------------------------------------------------------------- q53
  /** Pareto / ABC revenue classification — "which customers are the 80%"
    * — built on a DISTRIBUTED exact prefix-sum instead of the
    * single-partition window a naive cumulative share plants (the same
    * reason t14 carries globalNtile): per-customer long-cents revenues
    * range-partition on (revenue desc, custkey), each partition
    * prefix-sums locally, and the per-partition totals (≤ #partitions
    * rows, a documented driver bound like t14's) become broadcast
    * offsets. Prefix values depend only on the total order, so the
    * sampled range boundaries never affect results. Classes are exact
    * integer cross-multiplications (A ≤ 80%, B ≤ 95%, C rest, crossing
    * item included downward), rolled up to one row per class so the
    * gate checks every prefix through the class populations.
    */
  def q53(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val revs = Tables.t(s, dir, "orders")
      .groupBy($"o_custkey")
      .agg(sum(cents($"o_totalprice")).as("rev"))
    // Q.rankedPrefix carries the substrate's invariants (layout pinned
    // before both passes, pid-ordered offset fold) — shared with t48/t49
    val (ranked, _, totals) =
      Q.rankedPrefix(revs, Seq($"rev".desc, $"o_custkey".asc), Seq("rev"))
    val grand = totals("rev")
    ranked
      .withColumn("prefix", $"__cum_rev")
      .withColumn("cls",
        when($"prefix" * 5 <= lit(grand) * 4, "A")
          .when($"prefix" * 20 <= lit(grand) * 19, "B")
          .otherwise("C"))
      .groupBy($"cls")
      .agg(
        count(lit(1)).as("n_customers"),
        sum($"rev").as("class_cents"),
        min($"o_custkey").as("first_custkey"),
        max($"o_custkey").as("last_custkey"))
      .withColumn("share_ppm",
        expr(s"(1000000 * class_cents) div ${grand}L"))
      .orderBy($"cls")
  }

  val q53Sql: String =
    """WITH revs AS (
      |  SELECT o_custkey, CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
      |    AS BIGINT) AS rev
      |  FROM orders GROUP BY o_custkey),
      |tot AS (SELECT SUM(rev) AS g FROM revs),
      |pre AS (SELECT o_custkey, rev,
      |    SUM(rev) OVER (ORDER BY rev DESC, o_custkey ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
      |  FROM revs),
      |cls AS (SELECT o_custkey, rev,
      |    CASE WHEN prefix * 5 <= g * 4 THEN 'A'
      |         WHEN prefix * 20 <= g * 19 THEN 'B'
      |         ELSE 'C' END AS cls
      |  FROM pre, tot)
      |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_customers,
      |  CAST(SUM(rev) AS BIGINT) AS class_cents,
      |  MIN(o_custkey) AS first_custkey, MAX(o_custkey) AS last_custkey,
      |  CAST((1000000 * SUM(rev)) // (SELECT g FROM tot) AS BIGINT) AS share_ppm
      |FROM cls GROUP BY cls ORDER BY cls""".stripMargin

  // ---------------------------------------------------------------- q56
  /** National market share (TPC-H Q8 analog): of the revenue a region's
    * customers spend on one part type, what share (exact ppm) do
    * suppliers of one nation capture, per order year — the
    * double-role-dimension probe (nation keys the customer-side market
    * filter AND the supplier-side attribution).
    *
    * Join strategy at scale: both nation roles collapse through
    * broadcast fixed-domain dims BEFORE any fact join (customers
    * pre-filter to the region, suppliers pre-label with their nation);
    * part pre-filters on type and joins the lineitem scan first (the
    * most selective fact-side cut); lineitem⋈orders is the one
    * unavoidable fact-fact exchange; customer/supplier attach
    * hint-free (AQE broadcast at bench SF, shuffle at 100 TB).
    *
    * Money: the share is a ratio of two corpus-sized sums — both ride
    * ONE two-level DECIMAL(38) combine as scale-4 long-cents partials;
    * the ppm is one integral divide of exact integers, so the ratio is
    * bit-identical on any engine and any partitioning. */
  val MktShareNation = "NATION_1"

  def q56(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n1 = Tables.t(s, dir, "nation")
      .join(broadcast(Tables.t(s, dir, "region")
        .filter($"r_name" === "AMERICA")),
        $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey".as("cust_nk"))
    val n2 = Tables.t(s, dir, "nation")
      .select($"n_nationkey".as("supp_nk"), $"n_name".as("supp_nation"))
    val c = Tables.t(s, dir, "customer")
      .join(broadcast(n1), $"c_nationkey" === $"cust_nk")
      .select($"c_custkey")
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", year($"o_orderdate").as("o_year"))
    val p = Tables.t(s, dir, "part")
      .filter($"p_type" === "PROMO").select($"p_partkey")
    val sup = Tables.t(s, dir, "supplier")
      .join(broadcast(n2), $"s_nationkey" === $"supp_nk")
      .select($"s_suppkey", $"supp_nation")
    val base = Tables.t(s, dir, "lineitem")
      .select($"l_orderkey", $"l_partkey", $"l_suppkey",
        (cents($"l_extendedprice") * (lit(100L) - cents($"l_discount")))
          .as("pd4"))
      .join(p, $"l_partkey" === $"p_partkey")
      .join(o, $"l_orderkey" === $"o_orderkey")
      .join(c, $"o_custkey" === $"c_custkey")
      .join(sup, $"l_suppkey" === $"s_suppkey")
      .select($"o_year", $"pd4",
        when($"supp_nation" === MktShareNation, $"pd4").otherwise(lit(0L))
          .as("pdn"))
    twoLevelCents(base, Seq("o_year"), Seq("tot4" -> $"pd4", "nat4" -> $"pdn"))
      .select($"o_year",
        dbl(round($"tot4" / 10000, 2)).as("total_volume"),
        expr("(1000000 * nat4) div tot4").cast(LongType).as("mkt_share_ppm"))
      .orderBy($"o_year")
  }

  /** Oracle mirrors the cents scaling for the ppm ratio (exact integer
    * floor-div on both engines) and q01's DECIMAL sum for the money
    * double. */
  val q56Sql: String =
    s"""WITH v AS (
       |  SELECT EXTRACT(year FROM o_orderdate) AS yr,
       |    CAST(l_extendedprice AS DECIMAL(18,6))
       |      * (1 - CAST(l_discount AS DECIMAL(18,6))) AS vol,
       |    CAST(round(l_extendedprice * 100) AS BIGINT)
       |      * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS vol4,
       |    n2.n_name AS supp_nation
       |  FROM lineitem
       |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
       |  JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation n2 ON s_nationkey = n2.n_nationkey)
       |SELECT CAST(yr AS INTEGER) AS o_year,
       |  CAST(ROUND(SUM(vol), 2) AS DOUBLE) AS total_volume,
       |  CAST((1000000 * SUM(CASE WHEN supp_nation = '$MktShareNation'
       |      THEN vol4 ELSE 0 END)) // SUM(vol4) AS BIGINT) AS mkt_share_ppm
       |FROM v GROUP BY yr ORDER BY o_year""".stripMargin

  // ---------------------------------------------------------------- q57
  /** Small-quantity revenue (TPC-H Q17 analog): revenue sitting in
    * lineitems whose quantity is below 20% of their part's average —
    * the correlated-scalar-subquery classic, decorrelated to one
    * aggregate + one self-join on the part key.
    *
    * Exactness: the 0.2·avg threshold is a ratio — comparing
    * qty < sum/(5·cnt) in floats would diverge between engines, so the
    * predicate cross-multiplies to pure integers:
    * 5·q2·cnt < Σq2 (quantities in hundredths). At 10⁷ rows per part
    * the product stays ≲ 2.5·10¹¹ — int64-safe at any corpus scale.
    *
    * Join strategy at scale: the per-part stats frame is the SAME
    * cardinality class as the part dimension and joins back on the key
    * the aggregation just shuffled on (co-partitioned — no extra
    * exchange on the probe); the brand label attaches hint-free (AQE
    * broadcasts the part dim at bench SF, shuffles at 100 TB); the
    * per-brand rollup is q01's two-level DECIMAL(38) combine. */
  def q57(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val l = Tables.t(s, dir, "lineitem")
      .select($"l_partkey",
        cents($"l_quantity").as("q2"),
        cents($"l_extendedprice").as("pc"))
    val stats = l.groupBy($"l_partkey")
      .agg(sum($"q2").as("sumq"), count(lit(1)).as("cnt"))
    val p = Tables.t(s, dir, "part").select($"p_partkey", $"p_brand")
    val base = l.join(stats, Seq("l_partkey"))
      .filter(expr("5 * q2 * cnt < sumq"))
      .join(p, $"l_partkey" === $"p_partkey")
      .select($"p_brand", $"pc")
    twoLevelCents(base, Seq("p_brand"), Seq("spc" -> $"pc"))
      .select($"p_brand", $"__cnt".as("n_small"),
        dbl(round($"spc" / 100, 2)).as("lost_revenue"))
      .orderBy($"p_brand")
  }

  val q57Sql: String =
    """WITH l AS (
      |  SELECT l_partkey,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS q2,
      |    CAST(l_extendedprice AS DECIMAL(18,6)) AS price
      |  FROM lineitem),
      |st AS (SELECT l_partkey, SUM(q2) AS sumq, COUNT(*) AS cnt
      |       FROM l GROUP BY 1),
      |sm AS (SELECT l.l_partkey, price FROM l JOIN st USING (l_partkey)
      |       WHERE 5 * q2 * cnt < sumq)
      |SELECT p_brand, COUNT(*) AS n_small,
      |  CAST(ROUND(SUM(price), 2) AS DOUBLE) AS lost_revenue
      |FROM sm JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ---------------------------------------------------------------- q55
  /** Local-supplier volume (TPC-H Q5 analog): revenue by nation where
    * customer and supplier share the nation, nations restricted to one
    * region, orders to one year — the canonical 6-table snowflake probe.
    *
    * Join strategy at scale: region⋈nation collapses to a ≤ |nations|
    * frame FIRST and broadcasts under the fixed-domain rule; the
    * supplier dim pre-filters through that broadcast so non-region
    * suppliers never reach a fact join; lineitem⋈orders shuffles on
    * the order key (both fact-sized — the unavoidable exchange);
    * supplier and customer attach hint-free (AQE broadcasts them at
    * bench SF, shuffles at 100 TB where they're 10⁸-row dims). The
    * co-location predicate c_nationkey = s_nationkey rides the
    * customer join as a residual, so no extra exchange.
    *
    * Money: per-nation groups are corpus-sized, so long-cents partials
    * combine in DECIMAL(38) (q01's two-level shape) — exact at any
    * scale; round-then-cast keeps the double bit-identical to the
    * oracle's decimal sum. */
  def q55(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = Tables.t(s, dir, "nation")
      .join(broadcast(Tables.t(s, dir, "region")
        .filter($"r_name" === "ASIA")),
        $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey", $"n_name")
    val sup = Tables.t(s, dir, "supplier")
      .select($"s_suppkey", $"s_nationkey")
      .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
    val o = Tables.t(s, dir, "orders")
      .filter($"o_orderdate" >= ts("1996-01-01 00:00:00") &&
        $"o_orderdate" < ts("1997-01-01 00:00:00"))
      .select($"o_orderkey", $"o_custkey")
    val c = Tables.t(s, dir, "customer").select($"c_custkey", $"c_nationkey")
    val base = Tables.t(s, dir, "lineitem")
      .select($"l_orderkey", $"l_suppkey",
        (cents($"l_extendedprice") * (lit(100L) - cents($"l_discount")))
          .as("pd4"))
      .join(o, $"l_orderkey" === $"o_orderkey")
      .join(sup, $"l_suppkey" === $"s_suppkey")
      .join(c, $"o_custkey" === $"c_custkey" &&
        $"c_nationkey" === $"s_nationkey")
      .select($"n_name", $"pd4")
    twoLevelCents(base, Seq("n_name"), Seq("spd4" -> $"pd4"))
      .select($"n_name", dbl(round($"spd4" / 10000, 2)).as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
  }

  val q55Sql: String =
    """SELECT n_name,
      |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
      |    * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  // ---------------------------------------------------------------- q58
  /** Sole blocking supplier (TPC-H Q21 analog): for finished orders that
    * involve more than one supplier, count — per supplier — the orders
    * where that supplier was the ONLY one to ship pathologically late
    * (> 1460 days after the order date; the driver's synthetic dates have
    * a multi-year tail, so this isolates the ~3 % worst). The classic
    * EXISTS(other supplier) AND NOT EXISTS(other late supplier) pair,
    * decorrelated to per-order counters: nsupp > 1 ∧ nlate = 1 with the
    * blamed key carried by max(CASE WHEN late THEN suppkey).
    *
    * Join strategy at scale: after the fact⋈orders equi-join, ONE forced
    * hash exchange on the order key feeds BOTH aggregation levels —
    * HashPartitioning(orderkey) satisfies the clustered distribution of
    * (orderkey, suppkey) (subset rule), so the per-supplier dedup and the
    * per-order counters run exchange-free on top of it. Supplier names
    * attach to the ≤ |supplier| result hint-free. */
  def q58(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.t(s, dir, "orders")
      .filter($"o_orderstatus" === "F")
      .select($"o_orderkey", $"o_orderdate")
    val lo = Tables.t(s, dir, "lineitem")
      .select($"l_orderkey", $"l_suppkey", $"l_shipdate")
      .join(o, $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_suppkey",
        ($"l_shipdate" > $"o_orderdate" + expr("INTERVAL 1460 DAYS"))
          .cast(IntegerType).as("late"))
      .repartition($"l_orderkey")
    val perSupp = lo.groupBy($"l_orderkey", $"l_suppkey")
      .agg(max($"late").as("any_late"))
    val blamed = perSupp.groupBy($"l_orderkey")
      .agg(count(lit(1)).as("nsupp"), sum($"any_late").as("nlate"),
        max(when($"any_late" === 1, $"l_suppkey")).as("blamed"))
      .filter($"nsupp" > 1 && $"nlate" === 1)
    val sup = Tables.t(s, dir, "supplier").select($"s_suppkey", $"s_name")
    blamed.groupBy($"blamed").agg(count(lit(1)).as("numwait"))
      .join(sup, $"blamed" === $"s_suppkey")
      .select($"s_name", $"numwait")
      .orderBy($"numwait".desc, $"s_name")
  }

  val q58Sql: String =
    """WITH lo AS (
      |  SELECT l_orderkey, l_suppkey,
      |    CASE WHEN l_shipdate > o_orderdate + INTERVAL 1460 DAY
      |         THEN 1 ELSE 0 END AS late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderstatus = 'F'),
      |per_supp AS (
      |  SELECT l_orderkey, l_suppkey, MAX(late) AS any_late
      |  FROM lo GROUP BY 1, 2),
      |per_order AS (
      |  SELECT l_orderkey, COUNT(*) AS nsupp,
      |    SUM(any_late) AS nlate,
      |    MAX(CASE WHEN any_late = 1 THEN l_suppkey END) AS blamed
      |  FROM per_supp GROUP BY 1)
      |SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
      |FROM per_order JOIN supplier ON blamed = s_suppkey
      |WHERE nsupp > 1 AND nlate = 1
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name""".stripMargin

  // ---------------------------------------------------------------- q59
  /** Cheapest regional supplier per part (TPC-H Q2 analog): among
    * suppliers in one region, find — for every part they actually
    * shipped — the supplier(s) achieving the minimum observed unit
    * price. The correlated MIN subquery, decorrelated to a per-part
    * aggregate joined back on its own grouping key.
    *
    * Exactness: unit price is a ratio (price/quantity), so it is held
    * as the integer division pc·10⁴ div q2 — hundredths of cents per
    * unit — identical in both engines (Spark `div` and DuckDB `//` BOTH
    * truncate toward zero; verified on negative operands, see s28). No
    * float division happens before the ORDER BY.
    *
    * Join strategy at scale: region⋈nation⋈supplier collapses to a
    * supplier-keyed frame that prunes the fact scan via a hint-free
    * equi-join (AQE broadcasts it at bench SF; at 10⁸-supplier scale it
    * shuffles). ONE forced part-key exchange then feeds everything
    * downstream: the (part, supplier) best-offer rollup and the per-part
    * min both cluster on subsets containing the part key, and the
    * min-back join sees both sides already co-partitioned — no further
    * exchange anywhere in the plan. */
  def q59(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val supEu = Tables.t(s, dir, "supplier")
      .join(broadcast(Tables.t(s, dir, "nation")
          .join(broadcast(Tables.t(s, dir, "region")
            .filter($"r_name" === "EUROPE")),
            $"n_regionkey" === $"r_regionkey")
          .select($"n_nationkey")),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_name")
    val offers = Tables.t(s, dir, "lineitem")
      .select($"l_partkey", $"l_suppkey",
        expr("cast(round(l_extendedprice * 100) as bigint) * 10000 " +
          "div cast(round(l_quantity * 100) as bigint)").as("unit_c4"))
      .join(supEu, $"l_suppkey" === $"s_suppkey")
      .repartition($"l_partkey")
    val bestPerSupp = offers.groupBy($"l_partkey", $"s_name")
      .agg(min($"unit_c4").as("unit_c4"))
    val minPart = bestPerSupp.groupBy($"l_partkey")
      .agg(min($"unit_c4").as("min_c4"))
    bestPerSupp.join(minPart, Seq("l_partkey"))
      .filter($"unit_c4" === $"min_c4")
      .select($"l_partkey".as("p_partkey"), $"s_name",
        $"unit_c4".as("min_unit_c4"))
      .orderBy($"p_partkey", $"s_name")
  }

  val q59Sql: String =
    """WITH offers AS (
      |  SELECT l_partkey, s_name,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) * 10000
      |      // CAST(round(l_quantity * 100) AS BIGINT) AS unit_c4
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'EUROPE'),
      |best AS (
      |  SELECT l_partkey, s_name, MIN(unit_c4) AS unit_c4
      |  FROM offers GROUP BY 1, 2),
      |mn AS (SELECT l_partkey, MIN(unit_c4) AS min_c4 FROM best GROUP BY 1)
      |SELECT l_partkey AS p_partkey, s_name,
      |  CAST(unit_c4 AS BIGINT) AS min_unit_c4
      |FROM best JOIN mn USING (l_partkey)
      |WHERE unit_c4 = min_c4
      |ORDER BY p_partkey, s_name""".stripMargin

  // ---------------------------------------------------------------- q60
  /** Dominant-supplier promotion audit (TPC-H Q20 analog): suppliers
    * who, for at least one part, shipped strictly more than half of that
    * part's total 1997 volume — the nested-IN-with-aggregate-threshold
    * classic, decorrelated to two aggregation levels over one forced
    * part-key exchange (the > 50 % test cross-multiplies to the pure
    * integer 2·sq > tq; quantities are summed in hundredths).
    *
    * Scale shape: the year filter prunes the scan; ONE hash exchange on
    * the part key feeds the (part, supplier) rollup, the per-part total
    * (subset-partitioning reuse), and the co-partitioned dominance join;
    * the ≤ |supplier| result attaches names/nations hint-free. */
  def q60(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val l97 = Tables.t(s, dir, "lineitem")
      .filter($"l_shipdate" >= ts("1997-01-01 00:00:00") &&
        $"l_shipdate" < ts("1998-01-01 00:00:00"))
      .select($"l_partkey", $"l_suppkey", cents($"l_quantity").as("q2"))
      .repartition($"l_partkey")
    val ps = l97.groupBy($"l_partkey", $"l_suppkey")
      .agg(sum($"q2").as("sq"))
    val pt = ps.groupBy($"l_partkey").agg(sum($"sq").as("tq"))
    val dom = ps.join(pt, Seq("l_partkey"))
      .filter($"sq" * 2 > $"tq")
      .groupBy($"l_suppkey")
      .agg(count(lit(1)).as("n_dominated"))
    val sup = Tables.t(s, dir, "supplier")
      .select($"s_suppkey", $"s_name", $"s_nationkey")
      .join(broadcast(Tables.t(s, dir, "nation")
        .select($"n_nationkey", $"n_name")),
        $"s_nationkey" === $"n_nationkey")
    dom.join(sup, $"l_suppkey" === $"s_suppkey")
      .select($"s_name", $"n_name", $"n_dominated")
      .orderBy($"n_dominated".desc, $"s_name")
  }

  val q60Sql: String =
    """WITH l97 AS (
      |  SELECT l_partkey, l_suppkey,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS q2
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'),
      |ps AS (SELECT l_partkey, l_suppkey, SUM(q2) AS sq
      |       FROM l97 GROUP BY 1, 2),
      |pt AS (SELECT l_partkey, SUM(sq) AS tq FROM ps GROUP BY 1),
      |dom AS (
      |  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_dominated
      |  FROM ps JOIN pt USING (l_partkey)
      |  WHERE sq * 2 > tq GROUP BY 1)
      |SELECT s_name, n_name, n_dominated
      |FROM dom
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |ORDER BY n_dominated DESC, s_name""".stripMargin

  // ---------------------------------------------------------------- q61
  /** Idle rich accounts (TPC-H Q22 analog): customers whose balance
    * exceeds the mean positive balance yet who have placed no order
    * since 2000-01-01 (the dataset spans 1995–2001, so "idle" = dormant
    * for the trailing ~20 months), profiled per nation. The
    * global-scalar-threshold + anti-join classic.
    *
    * Exactness: the mean comparison never divides — bal2·n_pos > sum_pos
    * cross-multiplies to pure long-cents integers (10⁶ cents × 10⁹
    * customers = 10¹⁵, int64-safe at any census size).
    *
    * Scale shape: the threshold is a 1-row aggregate crossJoin-broadcast
    * (the documented param-frame pattern); the no-orders test is a
    * LEFT ANTI equi-join on the customer key — both sides fact-class, so
    * it shuffles on the join key; the per-nation rollup is a ≤ |nation|
    * two-level DECIMAL combine. */
  def q61(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.t(s, dir, "customer")
      .select($"c_custkey", $"c_nationkey", cents($"c_acctbal").as("bal2"))
    val stats = c.filter($"bal2" > 0)
      .agg(sum($"bal2").as("sum_pos"), count(lit(1)).as("n_pos"))
    val rich = c.crossJoin(broadcast(stats))
      .filter($"bal2" * $"n_pos" > $"sum_pos")
    val idle = rich.join(
      Tables.t(s, dir, "orders")
        .filter($"o_orderdate" >= ts("2000-01-01 00:00:00"))
        .select($"o_custkey"),
      $"c_custkey" === $"o_custkey", "left_anti")
    val byNation = twoLevelCents(idle, Seq("c_nationkey"),
      Seq("sbal2" -> $"bal2"))
    byNation
      .join(broadcast(Tables.t(s, dir, "nation")
        .select($"n_nationkey", $"n_name")),
        $"c_nationkey" === $"n_nationkey")
      .select($"n_name", $"__cnt".as("n_idle_rich"),
        dbl(round($"sbal2" / 100, 2)).as("total_bal"))
      .orderBy($"n_name")
  }

  val q61Sql: String =
    """WITH c AS (
      |  SELECT c_custkey, c_nationkey,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal2,
      |    CAST(c_acctbal AS DECIMAL(18,6)) AS bal
      |  FROM customer),
      |st AS (SELECT CAST(SUM(bal2) AS BIGINT) AS sum_pos,
      |              CAST(COUNT(*) AS BIGINT) AS n_pos
      |       FROM c WHERE bal2 > 0),
      |idle AS (
      |  SELECT c_nationkey, bal FROM c, st
      |  WHERE bal2 * n_pos > sum_pos
      |    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'))
      |SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_idle_rich,
      |  CAST(ROUND(SUM(bal), 2) AS DOUBLE) AS total_bal
      |FROM idle JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------- q62
  /** Large-volume orders (TPC-H Q18 analog): orders whose total line
    * quantity tops 250 units, with their customer — the HAVING-threshold
    * + join-back classic. The per-order sum is a single-level long agg
    * (an order has a bounded line count, so no overflow tier is needed);
    * the surviving ≲ 2 % of orders probe orders/customer hint-free (AQE
    * broadcasts the survivors at bench SF; all joins are key-equi and
    * shuffle cleanly at 100 TB).
    *
    * Total quantity is emitted in exact hundredths (BIGINT) rather than
    * as a float division. */
  def q62(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val big = Tables.t(s, dir, "lineitem")
      .select($"l_orderkey", cents($"l_quantity").as("q2"))
      .groupBy($"l_orderkey").agg(sum($"q2").as("sum_q2"))
      .filter($"sum_q2" > 25000L)
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderdate",
        cents($"o_totalprice").as("tp2"))
    val c = Tables.t(s, dir, "customer").select($"c_custkey", $"c_name")
    big.join(o, $"l_orderkey" === $"o_orderkey")
      .join(c, $"o_custkey" === $"c_custkey")
      .select($"c_name", $"o_orderkey".as("orderkey"),
        d8($"o_orderdate").as("o_date"),
        dbl(round($"tp2" / 100, 2)).as("o_total"),
        $"sum_q2")
      .orderBy($"sum_q2".desc, $"orderkey")
  }

  val q62Sql: String =
    """WITH big AS (
      |  SELECT l_orderkey,
      |    CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
      |      AS sum_q2
      |  FROM lineitem GROUP BY 1
      |  HAVING SUM(CAST(round(l_quantity * 100) AS BIGINT)) > 25000)
      |SELECT c_name, o_orderkey AS orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS o_date,
      |  CAST(ROUND(CAST(round(o_totalprice * 100) AS BIGINT) / 100, 2)
      |    AS DOUBLE) AS o_total,
      |  sum_q2
      |FROM big
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY sum_q2 DESC, orderkey""".stripMargin

  // ---------------------------------------------------------------- q63
  /** Bilateral shipping volume (TPC-H Q7 analog): discounted revenue
    * flowing between two nations — supplier on one side, customer on the
    * other, both directions — by ship year. The two-sided
    * dimension-pair-filter classic.
    *
    * Scale shape: both nation filters collapse to ≤ |nation| broadcast
    * frames that prune supplier/customer BEFORE any fact join, so only
    * lines touching the two nations reach the fact⋈orders exchange; the
    * cross-pair condition rides the customer join as a residual
    * (supp_nation ≠ cust_nation), never a separate pass. Money in exact
    * cents×(100−d¢), two-level DECIMAL combine. */
  def q63(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pair = Tables.t(s, dir, "nation")
      .filter($"n_name".isin("NATION_3", "NATION_7"))
      .select($"n_nationkey", $"n_name")
    val supN = Tables.t(s, dir, "supplier")
      .select($"s_suppkey", $"s_nationkey")
      .join(broadcast(pair), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    val custN = Tables.t(s, dir, "customer")
      .select($"c_custkey", $"c_nationkey")
      .join(broadcast(pair), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name".as("cust_nation"))
    val o = Tables.t(s, dir, "orders").select($"o_orderkey", $"o_custkey")
    val base = Tables.t(s, dir, "lineitem")
      .select($"l_orderkey", $"l_suppkey", year($"l_shipdate").as("l_year"),
        (cents($"l_extendedprice") * (lit(100L) - cents($"l_discount")))
          .as("pd4"))
      .join(supN, $"l_suppkey" === $"s_suppkey")
      .join(o, $"l_orderkey" === $"o_orderkey")
      .join(custN, $"o_custkey" === $"c_custkey" &&
        $"supp_nation" =!= $"cust_nation")
      .select($"supp_nation", $"cust_nation", $"l_year", $"pd4")
    twoLevelCents(base, Seq("supp_nation", "cust_nation", "l_year"),
      Seq("spd4" -> $"pd4"))
      .select($"supp_nation", $"cust_nation", $"l_year",
        dbl(round($"spd4" / 10000, 2)).as("revenue"))
      .orderBy($"supp_nation", $"cust_nation", $"l_year")
  }

  val q63Sql: String =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(ROUND(SUM(rev), 2) AS DOUBLE) AS revenue
      |FROM (
      |  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
      |    CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
      |    CAST(l_extendedprice AS DECIMAL(18,6))
      |      * (1 - CAST(l_discount AS DECIMAL(18,6))) AS rev
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ns ON s_nationkey = ns.n_nationkey
      |  JOIN nation nc ON c_nationkey = nc.n_nationkey
      |  WHERE ns.n_name IN ('NATION_3', 'NATION_7')
      |    AND nc.n_name IN ('NATION_3', 'NATION_7')
      |    AND ns.n_name <> nc.n_name)
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------- q64
  /** Order-priority checking (TPC-H Q4 analog): for one order quarter,
    * count per priority the orders with at least one line shipped more
    * than 60 days after the order date — the EXISTS-with-correlated-
    * inequality classic, expressed as a LEFT SEMI equi-join on the order
    * key with the lateness inequality riding as a join residual (never a
    * second pass, never an aggregate-then-dedup).
    *
    * Scale shape: the quarter filter pushes to the orders scan, the semi
    * join shuffles both fact sides on the order key once (semi output ≤
    * left side, no fan-out on multi-line matches), and the rollup is a
    * ≤ |priorities| map-side-combining aggregate. Pure integer counts. */
  def q64(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.t(s, dir, "orders")
      .filter($"o_orderdate" >= ts("1997-07-01 00:00:00") &&
        $"o_orderdate" < ts("1997-10-01 00:00:00"))
      .select($"o_orderkey", $"o_orderdate", $"o_orderpriority")
    val l = Tables.t(s, dir, "lineitem").select($"l_orderkey", $"l_shipdate")
    o.join(l, $"o_orderkey" === $"l_orderkey" &&
        $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_late_orders"))
      .orderBy($"o_orderpriority")
  }

  val q64Sql: String =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_late_orders
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q65
  /** Customer order-count distribution (TPC-H Q13 analog): how many
    * customers placed exactly N qualifying orders (o_totalprice > 100),
    * ZERO included — the left-outer-join-then-histogram classic whose
    * whole point is that inner-join shapes silently drop the
    * zero-order customers.
    *
    * Scale shape: the price filter pushes to the orders scan; the LEFT
    * join shuffles both sides on the customer key once, and the
    * per-customer count reuses that very partitioning (groupBy on the
    * join's own key — no second customer exchange); the count-of-counts
    * histogram is a ≤ max-order-count rollup. Pure integers. */
  def q65(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.t(s, dir, "customer").select($"c_custkey")
    val o = Tables.t(s, dir, "orders")
      .filter($"o_totalprice" > 100.0)
      .select($"o_custkey", $"o_orderkey")
    c.join(o, $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count"))
      .groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  val q65Sql: String =
    """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
      |FROM (
      |  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      |  FROM customer LEFT JOIN orders
      |    ON c_custkey = o_custkey AND o_totalprice > 100
      |  GROUP BY c_custkey)
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  // ---------------------------------------------------------------- q66
  /** Supplier diversity per part family (TPC-H Q16 analog): for each
    * (brand, type) of mid-size parts, how many DISTINCT suppliers
    * actually shipped one — excluding suppliers in bad standing
    * (negative balance), the NOT-IN classic as a LEFT ANTI join.
    *
    * Scale shape: the bad-supplier exclusion anti-joins the fact BEFORE
    * any widening (the excluded set is supplier-dim-scaled — hint-free,
    * AQE broadcasts it at bench SF); the part attributes attach
    * hint-free; the distinct collapses (brand, type, suppkey) map-side
    * and the final count is a ≤ |brand×type| rollup. */
  def q66(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bad = Tables.t(s, dir, "supplier")
      .filter($"s_acctbal" < 0).select($"s_suppkey")
    val p = Tables.t(s, dir, "part")
      .filter($"p_size" >= 10 && $"p_size" <= 30)
      .select($"p_partkey", $"p_brand", $"p_type")
    Tables.t(s, dir, "lineitem")
      .select($"l_partkey", $"l_suppkey")
      .join(bad, $"l_suppkey" === $"s_suppkey", "left_anti")
      .join(p, $"l_partkey" === $"p_partkey")
      .select($"p_brand", $"p_type", $"l_suppkey").distinct()
      .groupBy($"p_brand", $"p_type")
      .agg(count(lit(1)).as("supplier_cnt"))
      .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type")
  }

  val q66Sql: String =
    """SELECT p_brand, p_type, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT)
      |  AS supplier_cnt
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |WHERE p_size BETWEEN 10 AND 30
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
      |                        WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type
      |ORDER BY supplier_cnt DESC, p_brand, p_type""".stripMargin

  // ---------------------------------------------------------------- q67
  /** Returned-item losses, top customers (TPC-H Q10 analog): per
    * customer, the discounted revenue sitting in 'R'-flagged lines of
    * one order quarter — the top-20 churn-review list. Ranking happens
    * on the EXACT decimal sum (ties broken by key) BEFORE the display
    * double is derived, and the top-20 lowers to TakeOrdered — no
    * global sort of the per-customer frame ever materializes.
    *
    * Scale shape: quarter + returnflag filters push to both scans;
    * lineitem⋈orders is the one fact-fact exchange; the per-customer
    * rollup is two-level DECIMAL (a customer's quarter can hold
    * unbounded lines at 100 TB); customer/nation attach to the ranked
    * 20-row frame only. */
  def q67(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.t(s, dir, "orders")
      .filter($"o_orderdate" >= ts("1997-01-01 00:00:00") &&
        $"o_orderdate" < ts("1997-04-01 00:00:00"))
      .select($"o_orderkey", $"o_custkey")
    val base = Tables.t(s, dir, "lineitem")
      .filter($"l_returnflag" === "R")
      .select($"l_orderkey",
        (cents($"l_extendedprice") * (lit(100L) - cents($"l_discount")))
          .as("pd4"))
      .join(o, $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey", $"pd4")
    val top = twoLevelCents(base, Seq("o_custkey"), Seq("spd4" -> $"pd4"))
      .orderBy($"spd4".desc, $"o_custkey").limit(20)
    val c = Tables.t(s, dir, "customer")
      .select($"c_custkey", $"c_name", $"c_nationkey")
      .join(broadcast(Tables.t(s, dir, "nation")
        .select($"n_nationkey", $"n_name")),
        $"c_nationkey" === $"n_nationkey")
    top.join(c, $"o_custkey" === $"c_custkey")
      .select($"o_custkey".as("custkey"), $"c_name", $"n_name",
        dbl(round($"spd4" / 10000, 2)).as("lost_revenue"))
      .orderBy($"lost_revenue".desc, $"custkey")
  }

  val q67Sql: String =
    """WITH r AS (
      |  SELECT o_custkey,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,6))
      |      * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS rev,
      |    SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
      |      * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS spd4
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_returnflag = 'R'
      |    AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      |  GROUP BY o_custkey
      |  ORDER BY spd4 DESC, o_custkey LIMIT 20)
      |SELECT o_custkey AS custkey, c_name, n_name,
      |  CAST(ROUND(rev, 2) AS DOUBLE) AS lost_revenue
      |FROM r
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY lost_revenue DESC, custkey""".stripMargin

  // ---------------------------------------------------------------- q68
  /** Disjunctive-predicate revenue (TPC-H Q19 analog): revenue from
    * lines matching any of three (brand, quantity-band, size-band)
    * conjunctions — the OR-of-ANDs classic that tests whether the
    * engine keeps a single equi-join with the disjunction as a residual
    * (instead of three scans unioned, or worse, a cartesian).
    *
    * Scale shape: one partkey equi-join (hint-free — part is a real
    * dimension); the OR residual references both sides so it rides the
    * join; quantity bounds prune the lineitem scan via the enclosing
    * [1, 30] envelope pushed below the join. One-row exact result. */
  def q68(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val l = Tables.t(s, dir, "lineitem")
      .filter($"l_quantity" >= 1.0 && $"l_quantity" <= 30.0)
      .select($"l_partkey", cents($"l_quantity").as("q2"),
        (cents($"l_extendedprice") * (lit(100L) - cents($"l_discount")))
          .as("pd4"))
    val p = Tables.t(s, dir, "part")
      .select($"p_partkey", $"p_brand", $"p_size")
    val matched = l.join(p, $"l_partkey" === $"p_partkey" && (
      ($"p_brand" === "Brand#3" && $"q2".between(100L, 1100L) &&
        $"p_size".between(1, 5)) ||
      ($"p_brand" === "Brand#14" && $"q2".between(1000L, 2000L) &&
        $"p_size".between(1, 10)) ||
      ($"p_brand" === "Brand#23" && $"q2".between(2000L, 3000L) &&
        $"p_size".between(1, 15))))
    // global (keyless) final aggregate, NOT a constant-key groupBy: a
    // grouped aggregate on empty input yields 0 rows while the oracle's
    // global aggregate always yields 1 — the two-level shape here keeps
    // the long partials AND the guaranteed single output row
    val partial = matched
      .groupBy(spark_partition_id().as("__pid"))
      .agg(sum($"pd4").as("p"), count(lit(1)).as("n"))
    partial.agg(
        coalesce(sum($"n"), lit(0L)).as("n_lines"),
        dbl(round(sum($"p".cast(DecimalType(38, 0))) / 10000, 2))
          .as("revenue"))
  }

  val q68Sql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
      |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
      |    * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE)
      |    AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#3'
      |    AND CAST(round(l_quantity * 100) AS BIGINT) BETWEEN 100 AND 1100
      |    AND p_size BETWEEN 1 AND 5)
      |  OR (p_brand = 'Brand#14'
      |    AND CAST(round(l_quantity * 100) AS BIGINT) BETWEEN 1000 AND 2000
      |    AND p_size BETWEEN 1 AND 10)
      |  OR (p_brand = 'Brand#23'
      |    AND CAST(round(l_quantity * 100) AS BIGINT) BETWEEN 2000 AND 3000
      |    AND p_size BETWEEN 1 AND 15)""".stripMargin

  // ---------------------------------------------------------------- q69
  /** Top supplier by quarterly revenue (TPC-H Q15 analog): suppliers
    * whose quarter revenue EQUALS the global maximum — the
    * view-plus-max classic. The comparison happens on the exact decimal
    * sum (never the display double), so the winner set is bit-identical
    * in any engine; the 1-row max broadcasts (the documented param-frame
    * pattern).
    *
    * Scale shape: quarter filter pushes to the scan; per-supplier
    * revenue is one two-level DECIMAL rollup; the max is a 1-row
    * aggregate of that rollup (exchange-free on top of it), and names
    * attach to the ≤ |ties| winners hint-free. */
  def q69(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = twoLevelCents(
      Tables.t(s, dir, "lineitem")
        .filter($"l_shipdate" >= ts("1997-01-01 00:00:00") &&
          $"l_shipdate" < ts("1997-04-01 00:00:00"))
        .select($"l_suppkey",
          (cents($"l_extendedprice") * (lit(100L) - cents($"l_discount")))
            .as("pd4")),
      Seq("l_suppkey"), Seq("spd4" -> $"pd4"))
      .localCheckpoint(eager = false) // reused: max + winner filter
    val mx = rev.agg(max($"spd4").as("mx"))
    rev.crossJoin(broadcast(mx))
      .filter($"spd4" === $"mx")
      .join(Tables.t(s, dir, "supplier").select($"s_suppkey", $"s_name"),
        $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey".as("suppkey"), $"s_name",
        dbl(round($"spd4" / 10000, 2)).as("total_revenue"))
      .orderBy($"suppkey")
  }

  val q69Sql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,6))
      |      * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT l_suppkey AS suppkey, s_name,
      |  CAST(ROUND(rev, 2) AS DOUBLE) AS total_revenue
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE rev = (SELECT MAX(rev) FROM rev)
      |ORDER BY suppkey""".stripMargin

  // ---------------------------------------------------------------- q71
  /** Column profile of the orders table — the docs-generate/DQ-crawl
    * primitive: per column, its null count and EXACT distinct count in
    * one statement. Multiple exact COUNT(DISTINCT) in one aggregate is
    * the classic Expand shape: Spark multiplies each input row once per
    * distinct-column (6× here), partial-aggregates the expanded stream
    * map-side, and never materializes a per-column pass — ONE scan, one
    * exchange. (At extreme scale a profiler trades exactness for
    * approx_count_distinct; the oracle gate needs the exact form, and
    * the Expand shape is the right exact plan.) The wide 1-row result
    * unpivots to (column, n_nulls, n_distinct) rows via stack — a
    * narrow row expand (q37's move). */
  def q71(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val o = Tables.t(s, dir, "orders")
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
        countDistinct(col(c)).as(s"nd_$c")))
    val wide = o.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols
      .map(c => s"'$c', nn_$c, nd_$c").mkString(", ")
    wide.select($"n_rows", expr(
        s"stack(${cols.size}, $stackArgs) as (column_name, n_nulls, n_distinct)"))
      .select($"column_name", $"n_rows", $"n_nulls", $"n_distinct")
      .orderBy($"column_name")
  }

  val q71Sql: String = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    cols.map { c =>
      s"""SELECT '$c' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
         |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct
         |FROM orders""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  // ---------------------------------------------------------------- q72
  /** Product-line profit by nation and year (TPC-H Q9 analog — the
    * testdata has no partsupp, so unit cost comes from p_retailprice).
    * Profit per line = discounted revenue − retail cost of the shipped
    * quantity; grouped by the supplier's nation and the ship year.
    *
    * Exactness: both terms live in the long scale-4 cents domain
    * (p¢·(100−d¢) and retail¢·qty¢), so the per-line profit is an exact
    * integer; the rollup is two-level (long partials, DECIMAL(38)
    * final), rounded before the one display double cast.
    *
    * Scale shape: the %gear% name filter prunes part BEFORE the fact
    * join; part and supplier join hint-free (real SF-growing dimensions
    * — AQE picks broadcast while they fit); nation is the fixed 25-row
    * domain and broadcasts by policy. One fact exchange per dim key,
    * then a (nation, year)-grain aggregate — 25·|years| cells. */
  def q72(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = Tables.t(s, dir, "part")
      .filter($"p_name".contains("gear"))
      .select($"p_partkey", cents($"p_retailprice").as("rc"))
    val sup = Tables.t(s, dir, "supplier")
      .select($"s_suppkey", $"s_nationkey")
    val n = broadcast(Tables.t(s, dir, "nation")
      .select($"n_nationkey", $"n_name"))
    val base = Tables.t(s, dir, "lineitem")
      .select($"l_partkey", $"l_suppkey",
        year($"l_shipdate").as("o_year"),
        cents($"l_quantity").as("q2"),
        (cents($"l_extendedprice") * (lit(100L) - cents($"l_discount")))
          .as("pd4"))
      .join(p, $"l_partkey" === $"p_partkey")
      .join(sup, $"l_suppkey" === $"s_suppkey")
      .join(n, $"s_nationkey" === $"n_nationkey")
      .select($"n_name".as("nation"), $"o_year",
        ($"pd4" - $"rc" * $"q2").as("profit4"))
    twoLevelCents(base, Seq("nation", "o_year"), Seq("p4" -> $"profit4"))
      .select($"nation", $"o_year",
        dbl(round($"p4" / 10000, 2)).as("profit"))
      .orderBy($"nation", $"o_year".desc)
  }

  val q72Sql: String =
    """SELECT n_name AS nation, CAST(year(l_shipdate) AS INTEGER) AS o_year,
      |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
      |      * (1 - CAST(l_discount AS DECIMAL(18,6)))
      |    - CAST(p_retailprice AS DECIMAL(18,6))
      |      * CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS profit
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE p_name LIKE '%gear%'
      |GROUP BY 1, 2
      |ORDER BY nation, o_year DESC""".stripMargin

  // ---------------------------------------------------------------- q73
  /** Important parts by shipped value (TPC-H Q11 analog — partsupp's
    * availqty·supplycost becomes the shipped discounted value): parts
    * whose value from one nation's suppliers exceeds 1/1000 of that
    * nation's total. The threshold compare happens on EXACT integers
    * (1000·part4 > total4 in DECIMAL(38)) — never on a display double,
    * so the survivor set is bit-identical in any engine.
    *
    * Scale shape: the nation filter collapses supplier to one nation's
    * slice before the fact join (hint-free); per-part value is a
    * two-level rollup; the grand total is a 1-row aggregate OF the
    * rollup (exchange-free on top of it) and broadcasts back as the
    * documented 1-row param frame — the q69 pattern. */
  def q73(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sup = Tables.t(s, dir, "supplier")
      .join(broadcast(Tables.t(s, dir, "nation")
        .filter($"n_name" === "NATION_7").select($"n_nationkey")),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey")
    val base = Tables.t(s, dir, "lineitem")
      .select($"l_partkey", $"l_suppkey",
        (cents($"l_extendedprice") * (lit(100L) - cents($"l_discount")))
          .as("pd4"))
      .join(sup, $"l_suppkey" === $"s_suppkey")
      .select($"l_partkey", $"pd4")
    val perPart = twoLevelCents(base, Seq("l_partkey"), Seq("v4" -> $"pd4"))
      .localCheckpoint(eager = false) // reused: total + threshold filter
    val total = perPart.agg(sum($"v4").as("t4"))
    perPart.crossJoin(broadcast(total))
      .filter($"v4" * 1000 > $"t4")
      .select($"l_partkey".as("partkey"),
        dbl(round($"v4" / 10000, 2)).as("value"))
      .orderBy($"value".desc, $"partkey")
  }

  val q73Sql: String =
    """WITH pv AS (
      |  SELECT l_partkey,
      |    SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
      |      * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS v4,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,6))
      |      * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS vdec
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE n_name = 'NATION_7'
      |  GROUP BY l_partkey)
      |SELECT l_partkey AS partkey,
      |  CAST(ROUND(vdec, 2) AS DOUBLE) AS value
      |FROM pv
      |WHERE v4 * 1000 > (SELECT SUM(v4) FROM pv)
      |ORDER BY value DESC, partkey""".stripMargin

  // ---------------------------------------------------------------- q74
  /** Shipping priority split by line status (TPC-H Q12 analog — the
    * testdata carries no shipmode/commitdate, so the dimension is
    * l_linestatus and the window is one ship year): per status, how
    * many lines belong to critical-priority orders vs the rest — pure
    * integer CASE-counts, trivially exact.
    *
    * Scale shape: the year filter pushes to the lineitem scan and cuts
    * the fact BEFORE the orders join (hint-free fact-fact equi-join on
    * orderkey); the final aggregate has |status| cells with map-side
    * partials. */
  def q74(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val l = Tables.t(s, dir, "lineitem")
      .filter($"l_shipdate" >= ts("1998-01-01 00:00:00") &&
        $"l_shipdate" < ts("1999-01-01 00:00:00"))
      .select($"l_orderkey", $"l_linestatus")
    val o = Tables.t(s, dir, "orders")
      .select($"o_orderkey", $"o_orderpriority")
    l.join(o, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_linestatus")
      .agg(
        sum(when($"o_orderpriority" === "1-URGENT" ||
          $"o_orderpriority" === "2-HIGH", 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when($"o_orderpriority" =!= "1-URGENT" &&
          $"o_orderpriority" =!= "2-HIGH", 1L).otherwise(0L))
          .as("low_line_count"))
      .orderBy($"l_linestatus")
  }

  val q74Sql: String =
    """SELECT l_linestatus,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q75
  /** Promotion revenue share for one ship month (TPC-H Q14 analog):
    * the fraction of September-1997 revenue sitting in PROMO-typed
    * parts, as exact integer ppm — (10⁶·promo4) div total4 with the
    * numerator promoted to DECIMAL(38) first (the d31 rule: a
    * corpus-proportional long·10⁶ wraps) and both engines truncating
    * toward zero on positive operands.
    *
    * Scale shape: the month filter prunes the fact scan; part joins
    * hint-free; the final is a KEYLESS two-level aggregate (q68's
    * shape — guaranteed exactly one row on any input, long partials per
    * partition, DECIMAL(38) final). */
  def q75(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = Tables.t(s, dir, "part").select($"p_partkey", $"p_type")
    val matched = Tables.t(s, dir, "lineitem")
      .filter($"l_shipdate" >= ts("1997-09-01 00:00:00") &&
        $"l_shipdate" < ts("1997-10-01 00:00:00"))
      .select($"l_partkey",
        (cents($"l_extendedprice") * (lit(100L) - cents($"l_discount")))
          .as("pd4"))
      .join(p, $"l_partkey" === $"p_partkey")
    val partial = matched
      .groupBy(spark_partition_id().as("__pid"))
      .agg(
        sum(when($"p_type" === "PROMO", $"pd4").otherwise(0L)).as("pr"),
        sum($"pd4").as("tot"), count(lit(1)).as("n"))
    partial.agg(
        coalesce(sum($"n"), lit(0L)).as("n_lines"),
        dbl(round(sum($"pr".cast(DecimalType(38, 0))) / 10000, 2))
          .as("promo_revenue"),
        dbl(round(sum($"tot".cast(DecimalType(38, 0))) / 10000, 2))
          .as("total_revenue"),
        expr("cast((1000000 * sum(cast(pr as decimal(38,0))))" +
          " div sum(cast(tot as decimal(38,0))) as bigint)")
          .as("promo_ppm"))
  }

  val q75Sql: String =
    """WITH f AS (
      |  SELECT CASE WHEN p_type = 'PROMO'
      |      THEN CAST(round(l_extendedprice * 100) AS BIGINT)
      |        * (100 - CAST(round(l_discount * 100) AS BIGINT))
      |      ELSE 0 END AS pr,
      |    CAST(round(l_extendedprice * 100) AS BIGINT)
      |      * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS tot,
      |    CASE WHEN p_type = 'PROMO'
      |      THEN CAST(l_extendedprice AS DECIMAL(18,6))
      |        * (1 - CAST(l_discount AS DECIMAL(18,6)))
      |      ELSE CAST(0 AS DECIMAL(18,6)) END AS prdec,
      |    CAST(l_extendedprice AS DECIMAL(18,6))
      |      * (1 - CAST(l_discount AS DECIMAL(18,6))) AS totdec
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00')
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
      |  CAST(ROUND(SUM(prdec), 2) AS DOUBLE) AS promo_revenue,
      |  CAST(ROUND(SUM(totdec), 2) AS DOUBLE) AS total_revenue,
      |  CAST((1000000 * SUM(pr)) // SUM(tot) AS BIGINT) AS promo_ppm
      |FROM f""".stripMargin

  // ---------------------------------------------------------------- q76
  /** Forecast-revenue-change (TPC-H Q6 analog — the last of the 22: with
    * q76 every TPC-H query shape has an analog here, the three
    * partsupp-based ones adapted to retailprice): revenue that would be
    * recovered by eliminating small-quantity discounts in a narrow
    * discount band over one ship year. The canonical pushdown probe —
    * ONE table, three scan-range predicates, one keyless sum: at 100 TB
    * this query is a pure test of filter pushdown + map-side
    * aggregation, and the plan must show exactly that (PlanAuditSpec).
    *
    * Exactness: revenue = price¢·disc¢ per line (scale 4, exact longs);
    * keyless two-level final (the q68 shape — exactly one row on any
    * input, DECIMAL(38) combine). */
  def q76(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val matched = Tables.t(s, dir, "lineitem")
      .filter($"l_shipdate" >= ts("1997-01-01 00:00:00") &&
        $"l_shipdate" < ts("1998-01-01 00:00:00"))
      .select(cents($"l_quantity").as("q2"), cents($"l_discount").as("d2"),
        cents($"l_extendedprice").as("pc"))
      .filter($"d2".between(5L, 7L) && $"q2" < 2400L)
      .select(($"pc" * $"d2").as("rev4"))
    val partial = matched
      .groupBy(spark_partition_id().as("__pid"))
      .agg(sum($"rev4").as("r"), count(lit(1)).as("n"))
    partial.agg(
        coalesce(sum($"n"), lit(0L)).as("n_lines"),
        dbl(round(sum($"r".cast(DecimalType(38, 0))) / 10000, 2))
          .as("revenue"))
  }

  val q76Sql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
      |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
      |    * CAST(l_discount AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
      |  AND CAST(round(l_quantity * 100) AS BIGINT) < 2400""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q01_pricing_summary", q01, Some(q01Sql)),
    Q("q02_stg_projection", q02, Some(q02Sql)),
    Q("q03_top_revenue", q03, Some(q03Sql)),
    Q("q04_left_join_case", q04, Some(q04Sql)),
    Q("q05_case_sum", q05, Some(q05Sql)),
    Q("q06_window_lag", q06, Some(q06Sql)),
    Q("q07_customer_lifetime", q07, Some(q07Sql)),
    Q("q08_incremental_batch", q08, Some(q08Sql)),
    Q("q09_dq_tests", q09, Some(q09Sql)),
    Q("q10_semi_anti", q10, Some(q10Sql)),
    Q("q11_topk_per_group", q11, Some(q11Sql)),
    Q("q12_star_join", q12, Some(q12Sql)),
    Q("q13_events_hourly", q13, Some(q13Sql)),
    Q("q14_rollup", q14, Some(q14Sql)),
    Q("q14b_cube", q14b, Some(q14bSql)),
    Q("q15_distinct_count", q15, Some(q15Sql)),
    Q("q16_set_ops", q16, Some(q16Sql)),
    Q("q19_json_extract", q19, Some(q19Sql)),
    Q("q20_range_join", q20, Some(q20Sql)),
    Q("q21_salted_agg", q21, Some(q21Sql)),
    Q("q22_exact_median", q22, Some(q22Sql)),
    Q("q23_funnel", q23, Some(q23Sql)),
    Q("q24_pivot", q24, Some(q24Sql)),
    Q("q25_grouping_sets", q25, Some(q25Sql)),
    Q("q26_quantiles", q26, Some(q26Sql)),
    Q("q27_correlated", q27, Some(q27Sql)),
    Q("q28_sliding_range", q28, Some(q28Sql)),
    Q("q29_salted_join", q29, Some(q29Sql)),
    Q("q30_parity_audit", q30, Some(q30Sql)),
    Q("q31_full_outer", q31, Some(q31Sql)),
    Q("q32_join_residual", q32, Some(q32Sql)),
    Q("q33_date_parts", q33, Some(q33Sql)),
    Q("q34_argminmax", q34, Some(q34Sql)),
    Q("q37_unpivot", q37, Some(q37Sql)),
    Q("q44_skew_profile", q44, Some(q44Sql)),
    Q("q53_pareto_abc", q53, Some(q53Sql)),
    Q("q55_local_supplier", q55, Some(q55Sql)),
    Q("q56_market_share", q56, Some(q56Sql)),
    Q("q57_small_quantity", q57, Some(q57Sql)),
    Q("q58_blocking_supplier", q58, Some(q58Sql)),
    Q("q59_min_cost_supplier", q59, Some(q59Sql)),
    Q("q60_dominant_supplier", q60, Some(q60Sql)),
    Q("q61_idle_rich", q61, Some(q61Sql)),
    Q("q62_large_orders", q62, Some(q62Sql)),
    Q("q63_bilateral_volume", q63, Some(q63Sql)),
    Q("q64_priority_check", q64, Some(q64Sql)),
    Q("q65_order_count_dist", q65, Some(q65Sql)),
    Q("q66_supplier_diversity", q66, Some(q66Sql)),
    Q("q67_returned_losses", q67, Some(q67Sql)),
    Q("q68_disjunctive_revenue", q68, Some(q68Sql)),
    Q("q69_top_supplier", q69, Some(q69Sql)),
    Q("q71_column_profile", q71, Some(q71Sql)),
    Q("q72_profit_by_nation", q72, Some(q72Sql)),
    Q("q73_important_parts", q73, Some(q73Sql)),
    Q("q74_priority_split", q74, Some(q74Sql)),
    Q("q75_promo_share", q75, Some(q75Sql)),
    Q("q76_forecast_revenue", q76, Some(q76Sql)))

}
