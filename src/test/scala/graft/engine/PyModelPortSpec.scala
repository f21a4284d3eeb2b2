package graft.engine

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The pandas-idiom interpreter for dbt Python models: the reference's own
  * fixture body, a SECOND structurally different fixture (the verdict's
  * breadth criterion), and a mixed-language project end-to-end. */
class PyModelPortSpec extends AnyFunSuite with SparkFixture {

  test("the reference fixture's exact body ports (sort + 2 shifts)") {
    val s = spark
    import s.implicits._
    // customer_status_histories.py:1-18 verbatim shape (enabled here)
    val code =
      """import pandas as pd
        |
        |
        |def model(dbt, session):
        |    # set length of time considered a churn
        |    pd.Timedelta(days=2)
        |
        |    dbt.config(enabled=True, materialized="table", packages=["pandas==1.5.2"])
        |
        |    orders_relation = dbt.ref("stg_orders")
        |
        |    # converting a DuckDB Python Relation into a pandas DataFrame
        |    orders_df = orders_relation.df()
        |
        |    orders_df.sort_values(by="ordered_at", inplace=True)
        |    orders_df["previous_order_at"] = orders_df.groupby("customer_id")["ordered_at"].shift(1)
        |    orders_df["next_order_at"] = orders_df.groupby("customer_id")["ordered_at"].shift(-1)
        |    return orders_df
        |""".stripMargin
    val stg = Seq(
      (1L, "2024-01-01"), (1L, "2024-01-05"), (1L, "2024-01-09"),
      (2L, "2024-02-01")).toDF("customer_id", "ordered_at")
    val out = PyModelPort.run(code,
      resolveRef = { n => assert(n == "stg_orders"); stg },
      resolveSource = (_, _) => fail("no sources in this fixture"))
      .orderBy("customer_id", "ordered_at").collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)), Option(r.getString(3))))
    assert(out.toSeq == Seq(
      (1L, "2024-01-01", None, Some("2024-01-05")),
      (1L, "2024-01-05", Some("2024-01-01"), Some("2024-01-09")),
      (1L, "2024-01-09", Some("2024-01-05"), None),
      (2L, "2024-02-01", None, None)))
  }

  test("a second, different pandas fixture: merge/transform/filter/rename") {
    val s = spark
    import s.implicits._
    val code =
      """def model(dbt, session):
        |    dbt.config(materialized="view")
        |    orders = dbt.ref("orders").df()
        |    customers = dbt.source("raw", "customers").df()
        |    orders["net"] = orders["amount"] - orders["discount"]
        |    orders["share"] = orders.groupby("customer_id")["net"].transform("sum")
        |    merged = orders.merge(customers, on="customer_id", how="left")
        |    merged["region"] = merged["region"].fillna("unknown")
        |    merged = merged[merged["net"] > 0]
        |    merged = merged.rename(columns={"net": "net_amount"})
        |    merged = merged.drop_duplicates(subset=["order_id"])
        |    merged = merged.drop(columns=["discount"])
        |    return merged
        |""".stripMargin
    val orders = Seq(
      (10L, 1L, 100.0, 10.0), (11L, 1L, 50.0, 0.0),
      (12L, 2L, 30.0, 40.0), // net < 0 → filtered
      (13L, 3L, 20.0, 5.0)).toDF("order_id", "customer_id", "amount", "discount")
    val customers = Seq((1L, "emea"), (2L, "apac"))
      .toDF("customer_id", "region") // customer 3 missing → region unknown
    val out = PyModelPort.run(code,
      resolveRef = { n => assert(n == "orders"); orders },
      resolveSource = { (sn, t) => assert((sn, t) == ("raw", "customers")); customers })
    assert(out.columns.toSeq ==
      Seq("customer_id", "order_id", "amount", "net_amount", "share", "region"))
    val rows = out.orderBy("order_id").collect()
      .map(r => (r.getAs[Long]("order_id"), r.getAs[Double]("net_amount"),
        r.getAs[Double]("share"), r.getAs[String]("region")))
    assert(rows.toSeq == Seq(
      (10L, 90.0, 140.0, "emea"),
      (11L, 50.0, 140.0, "emea"),
      (13L, 15.0, 15.0, "unknown")))
  }

  test("aggregation fixture: groupby.agg / concat / astype / nlargest") {
    val s = spark
    import s.implicits._
    val code =
      """def model(dbt, session):
        |    a = dbt.ref("jan").df()
        |    b = dbt.ref("feb").df()
        |    both = pd.concat([a, b], ignore_index=True)
        |    both["amount"] = both["amount"].astype("float64")
        |    stats = both.groupby("customer_id", as_index=False).agg(total=("amount", "sum"), n=("amount", "count"), distinct_days=("day", "nunique"))
        |    stats = stats.reset_index()
        |    top = stats.nlargest(2, "total")
        |    top = top[["customer_id", "total", "n"]]
        |    return top
        |""".stripMargin
    val jan = Seq((1L, 10, "d1"), (1L, 20, "d1"), (2L, 5, "d2"))
      .toDF("customer_id", "amount", "day")
    val feb = Seq((2L, 50, "d3"), (3L, 1, "d4"))
      .toDF("customer_id", "amount", "day")
    val out = PyModelPort.run(code,
      resolveRef = { n => if (n == "jan") jan else feb },
      resolveSource = (_, _) => fail("no sources"))
    assert(out.columns.toSeq == Seq("customer_id", "total", "n"))
    val rows = out.orderBy(org.apache.spark.sql.functions.col("total").desc)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(rows.toSeq == Seq((2L, 55.0, 2L), (1L, 30.0, 2L)))
  }

  test("hash in a string literal is content, not a comment") {
    val s = spark
    import s.implicits._
    val code =
      """def model(dbt, session):
        |    df = dbt.ref("m").df()
        |    df["tag"] = "#promo"  # this comment goes
        |    return df
        |""".stripMargin
    val m = Seq(1).toDF("id")
    val out = PyModelPort.run(code, _ => m, (_, _) => m)
    assert(out.collect().map(_.getString(1)).toSeq == Seq("#promo"))
  }

  test("groupby().cumsum() is a running sum per key in the frame's sort order") {
    val s = spark
    import s.implicits._
    val code =
      """def model(dbt, session):
        |    df = dbt.ref("m").df()
        |    df.sort_values(by="ord", inplace=True)
        |    df["cum"] = df.groupby("k")["v"].cumsum()
        |    return df
        |""".stripMargin
    val m = Seq((1L, 1, 10.0), (1L, 2, 5.0), (2L, 1, 3.0)).toDF("k", "ord", "v")
    val out = PyModelPort.run(code, _ => m, (_, _) => fail("no sources"))
      .orderBy("k", "ord").collect().map(r => (r.getLong(0), r.getDouble(3)))
    assert(out.toSeq == Seq((1L, 10.0), (1L, 15.0), (2L, 3.0)))
  }

  test("a sort on one frame does not leak into another frame's windows") {
    val s = spark
    import s.implicits._
    val code =
      """def model(dbt, session):
        |    a = dbt.ref("a").df()
        |    b = dbt.ref("b").df()
        |    a.sort_values(by="other", inplace=True)
        |    b["prev"] = b.groupby("k")["ts"].shift(1)
        |    return b
        |""".stripMargin
    val a = Seq((1, 9)).toDF("k", "other")
    val b = Seq((1, 10), (1, 20)).toDF("k", "ts")
    // b has no `other` column: if a's sort keys leaked into b's window
    // this would throw; the fallback orders by the shifted column
    val out = PyModelPort.run(code, n => if (n == "a") a else b, (_, _) => a)
      .orderBy("ts").collect().map(r => (r.getInt(1), Option(r.get(2))))
    assert(out.toSeq == Seq((10, None), (20, Some(10))))
  }

  test("drop_duplicates after sort_values keeps the first row in sort order") {
    val s = spark
    import s.implicits._
    val code =
      """def model(dbt, session):
        |    df = dbt.ref("m").df()
        |    df = df.sort_values(by="ts", ascending=False)
        |    df = df.drop_duplicates(subset=["user"])
        |    return df
        |""".stripMargin
    val m = Seq((1, 10, "a"), (1, 30, "c"), (1, 20, "b"), (2, 5, "z"))
      .toDF("user", "ts", "v")
    val out = PyModelPort.run(code, _ => m, (_, _) => m)
      .orderBy("user").collect().map(r => (r.getInt(0), r.getString(2)))
    // latest ts per user — deterministic, not an arbitrary survivor
    assert(out.toSeq == Seq((1, "c"), (2, "z")))
  }

  test("statements outside the surface fail loudly, not silently") {
    val code =
      """def model(dbt, session):
        |    df = dbt.ref("m").df()
        |    df = df.pivot_table(index="a", columns="b", values="c")
        |    return df
        |""".stripMargin
    val s = spark
    import s.implicits._
    val m = Seq((1, 2, 3)).toDF("a", "b", "c")
    val e = intercept[UnsupportedOperationException](
      PyModelPort.run(code, _ => m, (_, _) => m))
    assert(e.getMessage.contains("pivot_table"))
  }

  test("enforced contracts apply to python models too") {
    val root = Files.createTempDirectory("graft_py_contract")
    def write(rel: String, text: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text)
    }
    write("dbt_project.yml", "name: pycontract\n")
    write("models/base.sql", "select 1 as id, 'x' as tag")
    write("models/__models.yml",
      """version: 2
        |models:
        |  - name: shaped
        |    config:
        |      contract:
        |        enforced: true
        |    columns:
        |      - name: id
        |        data_type: bigint
        |      - name: missing_col
        |        data_type: string
        |""".stripMargin)
    write("models/shaped.py",
      """def model(dbt, session):
        |    df = dbt.ref("base").df()
        |    return df
        |""".stripMargin)
    val (cfg, m) = graft.core.parse.ProjectLoader.load(root)
    val runner = new Runner(spark, m, cfg,
      Files.createTempDirectory("graft_pyc_wh"),
      enforceAccess = false, projectRoot = Some(root))
    val e = intercept[Exception](runner.run())
    assert(e.getMessage.contains("missing_col") ||
      Option(e.getCause).exists(_.getMessage.contains("missing_col")),
      s"expected a contract violation naming missing_col, got $e")
  }

  test("--read-catalog reuses a persisted python table model") {
    val root = Files.createTempDirectory("graft_py_rc")
    def write(rel: String, text: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text)
    }
    write("dbt_project.yml", "name: pyrc\n")
    write("models/base.sql", "select 1 as id")
    write("models/tbl.py",
      """def model(dbt, session):
        |    dbt.config(materialized="table")
        |    df = dbt.ref("base").df()
        |    return df
        |""".stripMargin)
    val (cfg, m) = graft.core.parse.ProjectLoader.load(root)
    val wh = Files.createTempDirectory("graft_pyrc_wh")
    new Runner(spark, m, cfg, wh, enforceAccess = false,
      projectRoot = Some(root)).run()
    val tblDir = wh.resolve("tbl")
    val stamp = Files.getLastModifiedTime(tblDir)
    Thread.sleep(20)
    val out2 = new Runner(spark, m, cfg, wh, enforceAccess = false,
      projectRoot = Some(root), readCatalog = true).run()
    assert(out2("model.pyrc.tbl").collect().map(_.getInt(0)).toSeq == Seq(1))
    assert(Files.getLastModifiedTime(tblDir) == stamp,
      "read-catalog run must not rewrite the persisted python table")
  }

  test("--read-catalog round-trips a PARTITIONED python table through the sidecar") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft_py_pb")
    def write(rel: String, text: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text)
    }
    write("dbt_project.yml", "name: pypb\n")
    write("models/tbl.py",
      """def model(dbt, session):
        |    dbt.config(materialized="table", partition_by="region")
        |    df = dbt.ref("pb_src").df()
        |    return df
        |""".stripMargin)
    // '007' survives only if the cached read applies the sidecar schema
    write("models/pb_src.sql",
      "select * from values (1, 'us', '007'), (2, 'eu', '008') as t(id, region, code)")
    val (cfg, m) = graft.core.parse.ProjectLoader.load(root)
    val wh = Files.createTempDirectory("graft_pypb_wh")
    assert(m.nodes("model.pypb.tbl").partitionBy == Vector("region"))
    new Runner(spark, m, cfg, wh, enforceAccess = false,
      projectRoot = Some(root)).run()
    assert(Files.exists(wh.resolve("tbl/region=us")), "no partition layout")
    val cached = new Runner(spark, m, cfg, wh, enforceAccess = false,
      projectRoot = Some(root), readCatalog = true).run()("model.pypb.tbl")
    assert(cached.schema.fieldNames.toSeq == Seq("id", "region", "code"))
    assert(cached.schema("region").dataType.typeName == "string")
    assert(cached.orderBy("id").collect().map(_.getString(2)).toSeq ==
      Seq("007", "008"))
  }

  test("mixed-language project: python model chains off a SQL model") {
    val root = Files.createTempDirectory("graft_py_proj")
    def write(rel: String, text: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text)
    }
    write("dbt_project.yml", "name: pyproj\n")
    write("models/stg_orders.sql",
      """select * from (
        |  select 1 as customer_id, '2024-01-01' as ordered_at union all
        |  select 1 as customer_id, '2024-01-05' as ordered_at union all
        |  select 2 as customer_id, '2024-02-01' as ordered_at)""".stripMargin)
    write("models/order_history.py",
      """def model(dbt, session):
        |    dbt.config(materialized="table")
        |    df = dbt.ref("stg_orders").df()
        |    df.sort_values(by="ordered_at", inplace=True)
        |    df["previous_order_at"] = df.groupby("customer_id")["ordered_at"].shift(1)
        |    return df
        |""".stripMargin)
    val (cfg, m) = graft.core.parse.ProjectLoader.load(root)
    assert(m.nodes("model.pyproj.order_history").dependsOn.nodes
      == Vector("model.pyproj.stg_orders"))
    val out = new Runner(spark, m, cfg,
      Files.createTempDirectory("graft_py_wh"),
      enforceAccess = false, projectRoot = Some(root)).run()
    val hist = out("model.pyproj.order_history")
      .orderBy("customer_id", "ordered_at").collect()
      .map(r => (r.getInt(0), r.getString(1), Option(r.getString(2))))
    assert(hist.toSeq == Seq(
      (1, "2024-01-01", None),
      (1, "2024-01-05", Some("2024-01-01")),
      (2, "2024-02-01", None)))
  }

  test("pivot_table lowers to one-shuffle groupBy().pivot(); head to limit") {
    val s = spark
    import s.implicits._
    val code =
      """def model(dbt, session):
        |    sales = dbt.ref("sales").df()
        |    wide = sales.pivot_table(index='region', columns='quarter', values='amount', aggfunc='sum', fill_value=0).reset_index()
        |    wide = wide.sort_values(by='region')
        |    top = wide.head(2)
        |    return top
        |""".stripMargin
    val sales = Seq(
      ("east", "q1", 10L), ("east", "q1", 5L), ("east", "q2", 7L),
      ("west", "q2", 3L), ("north", "q1", 1L)).toDF("region", "quarter", "amount")
    val out = PyModelPort.run(code,
      resolveRef = { n => assert(n == "sales"); sales },
      resolveSource = (_, _) => fail("no sources"))
    assert(out.columns.toSeq == Seq("region", "q1", "q2"))
    val rows = out.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // sorted by region, head(2): east, north — the zero-filled cells are
    // the fill_value, not null
    assert(rows == Seq(("east", 15L, 7L), ("north", 1L, 0L)))
  }

  test("np.where conditional columns, pd.merge function form, and .query") {
    val s = spark
    import s.implicits._
    val code =
      """import numpy as np
        |import pandas as pd
        |
        |def model(dbt, session):
        |    orders = dbt.ref("orders").df()
        |    tiers = dbt.ref("tiers").df()
        |    orders["band"] = np.where(orders["amount"] >= 100, "big", "small")
        |    orders["boosted"] = np.where(orders["amount"] < 10, orders["floor"], orders["amount"])
        |    joined = pd.merge(orders, tiers, on="customer_id", how="left")
        |    kept = joined.query("band == 'big'")
        |    return kept
        |""".stripMargin
    val orders = Seq(
      (1L, 150L, 10L), (1L, 5L, 10L), (2L, 100L, 10L), (3L, 99L, 10L))
      .toDF("customer_id", "amount", "floor")
    val tiers = Seq((1L, "gold"), (2L, "silver")).toDF("customer_id", "tier")
    val out = PyModelPort.run(code,
      resolveRef = { n => if (n == "orders") orders else tiers },
      resolveSource = (_, _) => fail("no sources"))
      .orderBy("customer_id", "amount").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3), r.getLong(4),
        Option(r.getString(5)))).toSeq
    assert(out == Seq(
      // band==big survives the query; customer 3 (99 → small) is dropped;
      // boosted keeps amount (none under 10 in the survivors); customer 2
      // left-joins its tier, customer 1's small order is filtered
      (1L, 150L, "big", 150L, Some("gold")),
      (2L, 100L, "big", 100L, Some("silver"))))
  }

  test("np.where arm referencing a different frame raises, never mis-resolves") {
    val s = spark
    import s.implicits._
    val code =
      """import numpy as np
        |
        |def model(dbt, session):
        |    df = dbt.ref("orders").df()
        |    other = dbt.ref("tiers").df()
        |    df["x"] = np.where(df["amount"] >= 100, other["amount"], df["amount"])
        |    return df
        |""".stripMargin
    val orders = Seq((1L, 150L)).toDF("customer_id", "amount")
    val tiers = Seq((1L, 5L)).toDF("customer_id", "amount")
    val e = intercept[UnsupportedOperationException](
      PyModelPort.run(code,
        resolveRef = { n => if (n == "orders") orders else tiers },
        resolveSource = (_, _) => fail("no sources")))
    assert(e.getMessage.contains("references frame 'other'"), e.getMessage)
  }
}
