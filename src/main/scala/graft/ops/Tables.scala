package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Central registry of the driver-provided parquet tables.
  *
  * Registers each table as a temp view so both the DataFrame API and
  * `spark.sql` can reach them. View registration is idempotent and cheap
  * (schema-only read); data is only scanned when an action runs, and
  * Catalyst pushes filters/projections down to the parquet scan.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Small dimension tables — always broadcast-joinable at any scale
    * factor (region=5, nation=25 rows regardless of SF). */
  val smallDims: Set[String] = Set("region", "nation")

  // session → dir the views CURRENTLY point at. Keyed on the current dir
  // (not a seen-set): switching dirs re-registers, so a session that
  // alternates scale factors — or a spec that loads a fixture dir —
  // never reads another dir's data through a stale view.
  private val current = scala.collection.mutable.Map.empty[Int, String]

  /** Register all tables from `dir` as temp views (idempotent per dir). */
  def load(spark: SparkSession, dir: String): Unit = synchronized {
    val h = System.identityHashCode(spark)
    if (!current.get(h).contains(dir)) {
      all.foreach { t =>
        try read(spark, dir, t).createOrReplaceTempView(t)
        catch {
          case e: Throwable =>
            // drop any stale registration too: a table present in the
            // previous dir but unreadable in this one must error on use,
            // not silently serve the old dir's rows
            spark.catalog.dropTempView(t)
            System.err.println(s"[tables] skipping $t: ${e.getMessage}")
        }
      }
      current(h) = dir
    }
  }

  /** Read one table, normalizing the `events.ts` column to micro-precision
    * TimestampType regardless of how the driver's parquet encodes it:
    *   - TIMESTAMP(NANOS) (which Spark 4 rejects natively) via the
    *     nanosAsLong legacy read + integer `div` (no double precision loss);
    *   - TIMESTAMP_NTZ (arrow `timestamp[us]`, isAdjustedToUTC=false) via a
    *     direct cast — exact because every entrypoint (Bench, Verify, test
    *     fixture) pins `spark.sql.session.timeZone=UTC`, so NTZ→instant is
    *     the identity mapping. Normalizing here keeps every downstream op
    *     free to use `unix_micros`/`cast(double)`, which Spark refuses on
    *     NTZ inputs. */
  private def read(spark: SparkSession, dir: String, t: String): DataFrame = {
    val path = s"$dir/$t.parquet"
    if (t == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeTs(spark.read.parquet(path))
    } else spark.read.parquet(path)
  }

  /** Normalize a `ts` column to TimestampType whatever the parquet
    * encoding surfaced (nanos-as-long or NTZ), so every query reading
    * `events` through the reader above sees the same event-time domain. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        // nanos vs micros magnitude guard: the driver has shipped
        // TIMESTAMP(NANOS) (surfaced as long via nanosAsLong — ~1.7e18
        // for 2024); a future micros-as-long encoding would be ~1.7e15.
        // 1e17 separates them for any date between 1973 and 5138, so the
        // per-row conditional is exact for either encoding (and costs
        // one codegen'd comparison in the scan).
        df.withColumn("ts", timestamp_micros(
          when(abs(col("ts")) >= lit(100000000000000000L),
            expr("ts div 1000")).otherwise(col("ts"))))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    load(spark, dir)
    spark.table(name)
  }
}
