package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Event-time operators over `events`: sessionization and as-of join —
  * the temporal surface a streaming-flavored pipeline needs in batch form
  * (the streaming forms live in [[graft.streaming.Streams]]).
  *
  * Scale (100 TB):
  *  - q17 sessionization uses Spark's native `session_window` aggregate —
  *    one shuffle on user_id, sessions merged map-side; no per-user
  *    collect, no window-function full sort.
  *  - q18 as-of join uses the union+running-last pattern: tag both sides,
  *    single shuffle on the key, one ordered window pass carrying the
  *    last right-side value forward. This is THE scalable as-of plan — a
  *    naive range join explodes to |X|·|Y| per key, this stays |X|+|Y|.
  */
object Temporal {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 6))
  private def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
  private val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  // ---------------------------------------------------------------- q17
  /** 30-minute-gap sessionization per user via native `session_window`:
    * session = maximal run of events with consecutive gaps < 30 min;
    * session end = last event + gap (Spark session_window semantics). */
  def q17(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "events")
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(
        count(lit(1)).as("n_events"),
        dbl(sum(dec($"value"))).as("total_value"))
      .select(
        $"user_id",
        date_format($"sw.start", TsFmt).as("session_start"),
        date_format($"sw.end", TsFmt).as("session_end"),
        $"n_events",
        $"total_value")
      .orderBy($"user_id", $"session_start")
  }

  /** Gaps-and-islands formulation of the same semantics for the oracle. */
  val q17Sql: String =
    """WITH flags AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |sess AS (
      |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flags)
      |SELECT user_id,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
      |  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  // ---------------------------------------------------------------- q18
  /** As-of join: each click event picks up the value/time of the most
    * recent purchase (ts <= click ts) by the same user. Implemented as
    * union + running `last(..., ignoreNulls)` window — purchases sort
    * before clicks at equal ts to match ASOF's `<=` semantics. Values
    * pass through without arithmetic, so doubles stay bit-exact. */
  def q18(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.t(s, dir, "events")
    val clicks = e.filter($"event_type" === "click").select(
      $"user_id", $"ts", lit(1).as("side"), $"event_id", $"value")
    val purchases = e.filter($"event_type" === "purchase").select(
      $"user_id", $"ts", lit(0).as("side"),
      lit(null).cast(LongType).as("event_id"), $"value")
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"side")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("purchase_value",
        last(when($"side" === 0, $"value"), ignoreNulls = true).over(w))
      .withColumn("purchase_ts",
        last(when($"side" === 0, $"ts"), ignoreNulls = true).over(w))
      .filter($"side" === 1)
      .select(
        $"event_id",
        $"user_id",
        date_format($"ts", TsFmt).as("click_ts"),
        $"value".as("click_value"),
        $"purchase_value",
        date_format($"purchase_ts", TsFmt).as("purchase_ts"))
      .orderBy($"event_id")
  }

  val q18Sql: String =
    """SELECT x.event_id, x.user_id,
      |  strftime(x.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
      |  x.value AS click_value,
      |  y.value AS purchase_value,
      |  strftime(y.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts
      |FROM (SELECT * FROM events WHERE event_type = 'click') x
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') y
      |  ON x.user_id = y.user_id AND y.ts <= x.ts
      |ORDER BY x.event_id""".stripMargin

  // ---------------------------------------------------------------- q45
  /** FORWARD as-of join — q18's mirror: each click picks up the NEXT
    * purchase (ts >= click ts) by the same user. The attribution
    * direction flips (q18 answers "what did they last buy", this
    * answers "what did the click lead to"); the plan is the same
    * union + running-carry window, traversed in DESCENDING time with
    * purchases sorted first at ties so `>=` semantics hold. Still
    * |X|+|Y| per key — no range join, no per-click probe.
    *
    * Scale (100 TB): identical to q18 — one co-partitioned shuffle on
    * user_id, one ordered window pass, values carried without
    * arithmetic so doubles stay bit-exact. */
  def q45(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.t(s, dir, "events")
    val clicks = e.filter($"event_type" === "click").select(
      $"user_id", $"ts", lit(1).as("side"), $"event_id", $"value")
    val purchases = e.filter($"event_type" === "purchase").select(
      $"user_id", $"ts", lit(0).as("side"),
      lit(null).cast(LongType).as("event_id"), $"value")
    val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"side")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("next_purchase_value",
        last(when($"side" === 0, $"value"), ignoreNulls = true).over(w))
      .withColumn("next_purchase_ts",
        last(when($"side" === 0, $"ts"), ignoreNulls = true).over(w))
      .filter($"side" === 1)
      .select(
        $"event_id",
        $"user_id",
        date_format($"ts", TsFmt).as("click_ts"),
        $"value".as("click_value"),
        $"next_purchase_value",
        date_format($"next_purchase_ts", TsFmt).as("next_purchase_ts"))
      .orderBy($"event_id")
  }

  val q45Sql: String =
    """SELECT x.event_id, x.user_id,
      |  strftime(x.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
      |  x.value AS click_value,
      |  y.value AS next_purchase_value,
      |  strftime(y.ts, '%Y-%m-%d %H:%M:%S.%f') AS next_purchase_ts
      |FROM (SELECT * FROM events WHERE event_type = 'click') x
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') y
      |  ON x.user_id = y.user_id AND y.ts >= x.ts
      |ORDER BY x.event_id""".stripMargin

  // ---------------------------------------------------------------- q35
  /** Weekly cohort retention — the product-analytics staple: users are
    * cohorted by the ISO week of their first event, and each later week
    * counts how many of them came back (offsets 0–3). All keys are
    * integers/dates and activity is a DISTINCT set before counting, so
    * the matrix is exact in any engine.
    *
    * Scale (100 TB): first-event discovery and the activity join both
    * key on user_id — one co-partitioned shuffle pair (AQE reuses the
    * exchange); the distinct and the final matrix aggregate on
    * (cohort, offset), whose cardinality is weeks², tiny regardless of
    * corpus size. No windows, no per-user state. */
  def q35(s: SparkSession, dir: String): DataFrame =
    cohortRetention(Tables.t(s, dir, "events"))

  /** The cohort matrix over any (user_id, ts) frame — split out so the
    * spec can pin the cohort math on hand-built event streams. */
  private[graft] def cohortRetention(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val ev = events
      .select($"user_id", to_date(date_trunc("week", $"ts")).as("wk"))
    val firsts = ev.groupBy($"user_id").agg(min($"wk").as("cohort"))
    val sizes = firsts.groupBy($"cohort").agg(count(lit(1)).as("n_cohort"))
    ev.join(firsts, Seq("user_id"))
      .select($"cohort", expr("datediff(wk, cohort) div 7").as("week_offset"),
        $"user_id")
      .filter($"week_offset" <= 3)
      .distinct()
      .groupBy($"cohort", $"week_offset")
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, Seq("cohort"))
      .select(date_format($"cohort", "yyyy-MM-dd").as("cohort"),
        $"week_offset", $"n_active", $"n_cohort")
      .orderBy($"cohort", $"week_offset")
  }

  val q35Sql: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
      |firsts AS (SELECT user_id, MIN(wk) AS cohort FROM ev GROUP BY user_id),
      |sizes AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_cohort
      |          FROM firsts GROUP BY cohort),
      |act AS (SELECT DISTINCT f.cohort,
      |          CAST((e.wk - f.cohort) // 7 AS BIGINT) AS week_offset,
      |          e.user_id
      |        FROM ev e JOIN firsts f USING (user_id)
      |        WHERE (e.wk - f.cohort) // 7 <= 3)
      |SELECT strftime(a.cohort, '%Y-%m-%d') AS cohort, a.week_offset,
      |  CAST(COUNT(*) AS BIGINT) AS n_active, s.n_cohort
      |FROM act a JOIN sizes s ON a.cohort = s.cohort
      |GROUP BY a.cohort, a.week_offset, s.n_cohort
      |ORDER BY cohort, week_offset""".stripMargin

  // ---------------------------------------------------------------- q36
  /** Hourly session concurrency — the load-curve query: for every hour,
    * how many q17 sessions (and distinct users) were active. A session
    * [s, e) is active in hour bucket b iff s < b+1h and e > b.
    *
    * Scale (100 TB): the textbook plan is a global sweep line (sort all
    * boundary events, running ±1 sum) — a single total order, i.e. one
    * partition doing all the work. This plan instead EXPLODES each
    * session into the hour buckets it spans and counts per bucket: the
    * explode is narrow (bounded by session duration — gap-bounded
    * sessions span few hours), the aggregate keys on the tiny hour
    * domain with map-side partials, and nothing ever needs a global
    * sort. Same exact answer, embarrassingly parallel. */
  def q36(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sessions = Tables.t(s, dir, "events")
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"sw.start".as("st"), $"sw.end".as("en"))
    sessions
      .select($"user_id",
        explode(sequence(
          date_trunc("hour", $"st"), date_trunc("hour", $"en"),
          expr("interval 1 hour"))).as("hour"),
        $"en")
      // a session ending exactly on the hour is not active in that hour
      .filter($"en" > $"hour")
      .groupBy($"hour")
      .agg(
        count(lit(1)).as("n_sessions"),
        countDistinct($"user_id").as("n_users"))
      .select(date_format($"hour", TsFmt).as("hour"), $"n_sessions", $"n_users")
      .orderBy($"hour")
  }

  /** Same sessions via gaps-and-islands (q17's oracle shape), exploded
    * with generate_series over the hour-truncated span. */
  val q36Sql: String =
    """WITH flags AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |sess AS (
      |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flags),
      |bounds AS (
      |  SELECT user_id, min(ts) AS st, max(ts) + INTERVAL 30 MINUTE AS en
      |  FROM sess GROUP BY user_id, sid),
      |hours AS (
      |  SELECT user_id, en, unnest(generate_series(
      |    date_trunc('hour', st), date_trunc('hour', en),
      |    INTERVAL 1 HOUR)) AS hour
      |  FROM bounds)
      |SELECT strftime(hour, '%Y-%m-%d %H:%M:%S.%f') AS hour,
      |  COUNT(*) AS n_sessions,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM hours WHERE en > hour
      |GROUP BY hour ORDER BY hour""".stripMargin

  // ---------------------------------------------------------------- q38
  /** Per-user consecutive-day activity streaks — gaps-and-islands: a
    * streak is a maximal run of calendar days on which the user had at
    * least one event. Classic row_number-difference trick: within a
    * user's ordered distinct days, (day - row_number) is constant across
    * a consecutive run, so grouping on it recovers the islands with no
    * self-join and no iteration.
    *
    * Scale (100 TB): the distinct and the window share ONE shuffle on
    * user_id (AQE reuses the exchange); the per-user sort is bounded by
    * days-per-user (≤ a few thousand for any real retention window), so
    * no partition ever sees more than one user's days — there is no
    * global sort and no skew beyond the per-user day count. */
  def q38(s: SparkSession, dir: String): DataFrame =
    streaks(Tables.t(s, dir, "events"))

  /** The island kernel over any (user_id, ts) frame — split out so the
    * spec can pin the day arithmetic on hand-built event streams
    * (month/year boundaries, single-day islands, duplicate days). */
  private[graft] def streaks(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"day")
    events
      .select($"user_id", to_date($"ts").as("day"))
      .distinct()
      .withColumn("grp",
        datediff($"day", lit(java.sql.Date.valueOf("1970-01-01")))
          - row_number().over(w))
      .groupBy($"user_id", $"grp")
      .agg(
        date_format(min($"day"), "yyyy-MM-dd").as("streak_start"),
        date_format(max($"day"), "yyyy-MM-dd").as("streak_end"),
        count(lit(1)).as("streak_days"))
      .select($"user_id", $"streak_start", $"streak_end", $"streak_days")
      .orderBy($"user_id", $"streak_start")
  }

  val q38Sql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |flagged AS (
      |  SELECT user_id, day,
      |    date_diff('day', DATE '1970-01-01', day)
      |      - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
      |  FROM days)
      |SELECT user_id,
      |  strftime(MIN(day), '%Y-%m-%d') AS streak_start,
      |  strftime(MAX(day), '%Y-%m-%d') AS streak_end,
      |  COUNT(*) AS streak_days
      |FROM flagged GROUP BY user_id, grp
      |ORDER BY user_id, streak_start""".stripMargin

  // ---------------------------------------------------------------- q39
  /** CDC-style latest-state compaction: collapse the event log to one
    * row per (user_id, event_type) — the most recent event, ties broken
    * by event_id. This is the "table snapshot from a changelog" /
    * upsert-compaction primitive every incremental pipeline needs.
    *
    * Scale (100 TB): implemented as `max(struct(ts, event_id, value))`,
    * NOT a row_number window — the struct max is an ordinary aggregate
    * with map-side partial combine, so each input partition reduces to
    * ≤|keys| rows before the single shuffle, and nothing is ever
    * sorted. A window plan would shuffle every raw event and sort each
    * key group just to discard all but one row. */
  def q39(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.t(s, dir, "events")
      // struct field order IS the comparison order: (ts, event_id) keys
      // the max; value rides along and is never compared
      .groupBy($"user_id", $"event_type")
      .agg(max(struct($"ts", $"event_id", $"value")).as("last"))
      .select(
        $"user_id", $"event_type",
        $"last.event_id".as("event_id"),
        date_format($"last.ts", TsFmt).as("last_ts"),
        $"last.value".as("value"))
      .orderBy($"user_id", $"event_type")
  }

  val q39Sql: String =
    """SELECT user_id, event_type, event_id,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts, value
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
      |    ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin

  // ---------------------------------------------------------------- q40
  /** Daily audience growth curve: per calendar day, how many users were
    * seen for the FIRST time, and the cumulative distinct-user count.
    * Exact cumulative distinct counting is normally expensive (a running
    * set); reducing each user to a first-seen day makes the answer a
    * plain daily count + running sum.
    *
    * Scale (100 TB): first-seen discovery is one min-aggregate on
    * user_id (map-side combine). The cumulative window then runs over
    * the DAY domain — which does not grow with data volume (a decade is
    * ~3,650 rows) — so the unpartitioned running sum is a deliberate,
    * bounded single-partition pass over a frame that is already
    * aggregate-tiny, not a scale hazard. */
  def q40(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wCum = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.t(s, dir, "events")
      .groupBy($"user_id").agg(min(to_date($"ts")).as("day"))
      .groupBy($"day").agg(count(lit(1)).as("n_new_users"))
      .withColumn("cum_users", sum($"n_new_users").over(wCum))
      .select(date_format($"day", "yyyy-MM-dd").as("day"),
        $"n_new_users", $"cum_users")
      .orderBy($"day")
  }

  val q40Sql: String =
    """WITH firsts AS (
      |  SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id),
      |daily AS (
      |  SELECT day, COUNT(*) AS n_new_users FROM firsts GROUP BY day)
      |SELECT strftime(day, '%Y-%m-%d') AS day, n_new_users,
      |  CAST(SUM(n_new_users) OVER (ORDER BY day
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
      |FROM daily ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- q41
  /** Rolling 7-day distinct active users per day (the DAU/WAU primitive).
    * Exact rolling COUNT(DISTINCT) admits no window frame; the scalable
    * form is contribution expansion: reduce events to distinct
    * (user, day), then each active day contributes the user to the 7
    * report days it is visible from, and the rest is a plain distinct
    * count per report day.
    *
    * Scale (100 TB): the expensive reduction (events → user-days) is one
    * map-side-combinable aggregate; the 7× expansion happens AFTER that
    * reduction, so it multiplies the already-tiny user-day set, not the
    * raw event log. Report days beyond the observed range are clipped so
    * the curve ends on the last day with data. */
  /** q41 kernel on any (user_id, ts) frame — unit-tested on hand-built
    * streams (window width `windowDays`). */
  private[graft] def rollingActive(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val days = events
      .select($"user_id", to_date($"ts").as("day")).distinct()
    val maxDay = days.agg(max($"day").as("max_day"))
    days
      .select($"user_id",
        explode(sequence($"day", date_add($"day", windowDays - 1))).as("report_day"))
      .join(broadcast(maxDay), $"report_day" <= $"max_day")
      .groupBy($"report_day")
      .agg(countDistinct($"user_id").as(s"active_users_${windowDays}d"))
      .select(date_format($"report_day", "yyyy-MM-dd").as("report_day"),
        col(s"active_users_${windowDays}d"))
      .orderBy($"report_day")
  }

  def q41(s: SparkSession, dir: String): DataFrame =
    rollingActive(Tables.t(s, dir, "events"))

  val q41Sql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |expanded AS (
      |  SELECT user_id, day + CAST(o AS INTEGER) AS report_day
      |  FROM days, UNNEST(generate_series(0, 6)) AS t(o))
      |SELECT strftime(report_day, '%Y-%m-%d') AS report_day,
      |  COUNT(DISTINCT user_id) AS active_users_7d
      |FROM expanded
      |WHERE report_day <= (SELECT MAX(CAST(ts AS DATE)) FROM events)
      |GROUP BY report_day ORDER BY report_day""".stripMargin

  // ---------------------------------------------------------------- q42
  /** SCD type-2 interval build: turn each user's event log into
    * contiguous [valid_from, valid_to) intervals of constant
    * event_type — the "dimension history from a changelog" primitive
    * (q39 keeps only the latest state; this keeps the full history).
    * Runs of equal state are collapsed; the open interval's valid_to is
    * NULL (emitted as a sentinel string so the hash compare is exact).
    *
    * Scale (100 TB): one shuffle on user_id, two ordered window passes
    * over each user's partition (lag to flag changes, running max to
    * number runs), then a plain groupBy — no self-join, no
    * per-user collect. Partitioning by user spreads perfectly. */
  /** q42 kernel on any (user_id, event_type, ts, event_id) frame —
    * unit-tested on hand-built changelogs. */
  private[graft] def scd2Intervals(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val run = Window.partitionBy($"user_id")
      .orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("chg",
        when(lag($"event_type", 1).over(w).isNull ||
          lag($"event_type", 1).over(w) =!= $"event_type", 1L).otherwise(0L))
      .withColumn("run_id", sum($"chg").over(run))
      .groupBy($"user_id", $"run_id")
      .agg(
        // constant within a run by construction; min = that constant
        min($"event_type").as("state"),
        min($"ts").as("valid_from"),
        count(lit(1)).as("n_events"))
      .withColumn("valid_to",
        lead($"valid_from", 1).over(
          Window.partitionBy($"user_id").orderBy($"run_id")))
      .select(
        $"user_id", $"run_id", $"state",
        date_format($"valid_from", TsFmt).as("valid_from"),
        coalesce(date_format($"valid_to", TsFmt), lit("open")).as("valid_to"),
        $"n_events")
      .orderBy($"user_id", $"run_id")
  }

  def q42(s: SparkSession, dir: String): DataFrame =
    scd2Intervals(Tables.t(s, dir, "events"))

  val q42Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    CASE WHEN lag(event_type) OVER w IS NULL
      |           OR lag(event_type) OVER w <> event_type
      |         THEN 1 ELSE 0 END AS chg
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |runs AS (
      |  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS run_id
      |  FROM flagged),
      |intervals AS (
      |  SELECT user_id, run_id,
      |    MIN(event_type) AS state,
      |    MIN(ts) AS valid_from,
      |    COUNT(*) AS n_events
      |  FROM runs GROUP BY user_id, run_id)
      |SELECT user_id, CAST(run_id AS BIGINT) AS run_id, state,
      |  strftime(valid_from, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
      |  COALESCE(strftime(lead(valid_from) OVER (
      |    PARTITION BY user_id ORDER BY run_id), '%Y-%m-%d %H:%M:%S.%f'),
      |    'open') AS valid_to,
      |  n_events
      |FROM intervals ORDER BY user_id, run_id""".stripMargin

  // ---------------------------------------------------------------- q43
  /** Trailing z-score spike detection on the hourly event-count series —
    * the volume-anomaly monitor a production ingest runs to catch
    * crawler loops, outages and duplicate-feed incidents. Each hour is
    * scored against the 24 preceding CALENDAR hours (the series is
    * densified to the full hourly spine, zero-filling silent hours —
    * "no events" is itself a signal, and an observed-rows-only frame
    * would stretch the baseline across gaps).
    *
    * Determinism: the window moments are exact integer sums (count,
    * Σc, Σc²); mean/variance/z are then a fixed tree of IEEE ops
    * (division, subtraction, sqrt — all correctly rounded), mirrored
    * token-for-token in the oracle, so the rounded z is bit-identical.
    *
    * Scale (100 TB): the ONLY heavy stage is raw events → hourly
    * counts, a map-side-combinable aggregate that collapses the log to
    * ≤ 8760 rows/year. The spine, window and scoring all run on that
    * tiny series — the unpartitioned window sort is over the post-agg
    * result, not the log, so a single task handles a century of hours. */
  private[graft] def hourlyAnomaly(events: DataFrame, baseline: Int = 24): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val counts = events
      .groupBy(date_trunc("hour", $"ts").as("hour"))
      .agg(count(lit(1)).as("cnt"))
    val spine = counts
      .agg(min($"hour").as("lo"), max($"hour").as("hi"))
      .select(explode(sequence($"lo", $"hi", expr("INTERVAL 1 HOUR"))).as("hour"))
    val dense = spine.join(counts, Seq("hour"), "left")
      .select($"hour", coalesce($"cnt", lit(0L)).as("cnt"))
    val w = Window.orderBy($"hour").rowsBetween(-baseline, -1)
    val nD = dbl(lit(baseline))
    dense
      .withColumn("n_base", count(lit(1)).over(w))
      .withColumn("s1", sum($"cnt").over(w))
      .withColumn("s2", sum($"cnt" * $"cnt").over(w))
      .filter($"n_base" === baseline)
      .withColumn("mean_cnt", dbl($"s1") / nD)
      .withColumn("varr",
        (nD * dbl($"s2") - dbl($"s1") * dbl($"s1")) / (nD * (nD - lit(1.0d))))
      .withColumn("z",
        when($"varr" > 0.0d, round((dbl($"cnt") - $"mean_cnt") / sqrt($"varr"), 6)))
      .withColumn("is_spike",
        when($"z".isNotNull && abs($"z") > 3.0d, 1L).otherwise(0L))
      .select(
        date_format($"hour", "yyyy-MM-dd HH:mm:ss").as("hour"),
        $"cnt", round($"mean_cnt", 6).as("mean_cnt"), $"z", $"is_spike")
      .orderBy($"hour")
  }

  def q43(s: SparkSession, dir: String): DataFrame =
    hourlyAnomaly(Tables.t(s, dir, "events"))

  val q43Sql: String =
    """WITH counts AS (
      |  SELECT date_trunc('hour', ts) AS hour, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1),
      |spine AS (
      |  SELECT UNNEST(generate_series(
      |    (SELECT MIN(hour) FROM counts), (SELECT MAX(hour) FROM counts),
      |    INTERVAL 1 HOUR)) AS hour),
      |dense AS (
      |  SELECT s.hour, COALESCE(c.cnt, 0) AS cnt
      |  FROM spine s LEFT JOIN counts c ON s.hour = c.hour),
      |framed AS (
      |  SELECT hour, cnt,
      |    COUNT(*)        OVER w AS n_base,
      |    SUM(cnt)        OVER w AS s1,
      |    SUM(cnt * cnt)  OVER w AS s2
      |  FROM dense
      |  WINDOW w AS (ORDER BY hour ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
      |scored AS (
      |  SELECT hour, cnt,
      |    CAST(s1 AS DOUBLE) / 24.0 AS mean_cnt,
      |    (24.0 * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
      |      / (24.0 * 23.0) AS varr
      |  FROM framed WHERE n_base = 24),
      |zed AS (
      |  SELECT hour, cnt, mean_cnt,
      |    CASE WHEN varr > 0.0
      |         THEN round((CAST(cnt AS DOUBLE) - mean_cnt) / sqrt(varr), 6)
      |    END AS z
      |  FROM scored)
      |SELECT strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour, cnt,
      |  round(mean_cnt, 6) AS mean_cnt, z,
      |  CAST(CASE WHEN z IS NOT NULL AND abs(z) > 3.0
      |       THEN 1 ELSE 0 END AS BIGINT) AS is_spike
      |FROM zed ORDER BY hour""".stripMargin

  // ---------------------------------------------------------------- q46
  /** Per-event-type cadence profile: the distribution of gaps between a
    * user's consecutive events of the same type — exact p50/p90/max/mean
    * inter-arrival seconds plus the gap count. The instrumentation-health
    * meter behind q43: a heartbeat stream whose p90 gap doubles is
    * dropping events long before the hourly z-score fires.
    *
    * Determinism: gaps are exact integer micros (`unix_micros`, no
    * timezone or FP) floored to whole seconds — Spark's `div` truncation
    * equals DuckDB's `//` floor on the non-negative domain. Percentiles
    * are q44-style histogram rank picks; mean is int64 floor division.
    *
    * Scale (100 TB): the lag window shuffles events once on
    * (user_id, event_type) — per-partition sorted runs, no global sort.
    * Percentiles then come from the count-of-counts histogram, NOT a
    * per-type sort of all gaps: the percentile window's input collapses
    * to |types| · |distinct gap seconds| rows, bounded by the gap domain
    * rather than the corpus. The same per-type histogram sort carries the
    * cumulative counts and the totals (full-frame windows), so nothing
    * re-reads the events. */
  def q46(s: SparkSession, dir: String): DataFrame =
    gapProfile(Tables.t(s, dir, "events"))

  /** The cadence kernel over any (user_id, event_type, event_id, ts)
    * frame — split out so the spec can pin the gap semantics on
    * hand-built streams (type/user isolation, ts ties, sub-second
    * floor, singleton users). */
  private[graft] def gapProfile(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val wLag = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"us", $"event_id")
    val hist = events
      .select($"user_id", $"event_type", $"event_id", unix_micros($"ts").as("us"))
      .withColumn("lag_us", lag($"us", 1).over(wLag))
      .where($"lag_us".isNotNull)
      .select($"event_type", expr("(us - lag_us) div 1000000").as("gap_s"))
      .groupBy($"event_type", $"gap_s").agg(count(lit(1)).as("n"))
    // all four statistics ride ONE tiny per-type histogram sort
    val wCum = Window.partitionBy($"event_type").orderBy($"gap_s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy($"event_type").orderBy($"gap_s")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist
      .withColumn("cum", sum($"n").over(wCum))
      .withColumn("n_gaps", sum($"n").over(wAll))
      .withColumn("sum_gap", sum($"gap_s" * $"n").over(wAll))
      .withColumn("mx", max($"gap_s").over(wAll))
      .groupBy($"event_type")
      .agg(
        min($"n_gaps").as("n_gaps"),
        min(when($"cum" * 2 >= $"n_gaps", $"gap_s")).as("p50_gap_s"),
        min(when($"cum" * 10 >= $"n_gaps" * 9, $"gap_s")).as("p90_gap_s"),
        min($"mx").as("max_gap_s"),
        min($"sum_gap").as("sum_gap"))
      .select(
        $"event_type", $"n_gaps", $"p50_gap_s", $"p90_gap_s", $"max_gap_s",
        expr("sum_gap div n_gaps").as("mean_gap_s"))
      .orderBy($"event_type")
  }

  val q46Sql: String =
    """WITH gaps AS (
      |  SELECT event_type,
      |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |       PARTITION BY user_id, event_type
      |       ORDER BY epoch_us(ts), event_id)) // 1000000 AS gap_s
      |  FROM events),
      |hist AS (
      |  SELECT event_type, gap_s, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM gaps WHERE gap_s IS NOT NULL GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, gap_s, n,
      |    CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY gap_s
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
      |    CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS n_gaps,
      |    CAST(SUM(gap_s * n) OVER (PARTITION BY event_type) AS BIGINT)
      |      AS sum_gap,
      |    MAX(gap_s) OVER (PARTITION BY event_type) AS mx
      |  FROM hist)
      |SELECT event_type,
      |  CAST(MIN(n_gaps) AS BIGINT) AS n_gaps,
      |  MIN(CASE WHEN cum * 2 >= n_gaps THEN gap_s END) AS p50_gap_s,
      |  MIN(CASE WHEN cum * 10 >= n_gaps * 9 THEN gap_s END) AS p90_gap_s,
      |  CAST(MIN(mx) AS BIGINT) AS max_gap_s,
      |  CAST(MIN(sum_gap) // MIN(n_gaps) AS BIGINT) AS mean_gap_s
      |FROM cum GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q47
  /** Value-distribution drift per event type: the corpus splits at the
    * midpoint of its time range and the two halves' value histograms
    * (fixed width-10 bins) are compared by total-variation distance in
    * exact integer ppm — the train/serve drift monitor. q43 catches
    * VOLUME anomalies; this catches the quieter failure where volume
    * holds but the value distribution walks (a price change, a currency
    * bug, a bot cohort).
    *
    * Determinism: the split point is integer micros arithmetic; bins are
    * `floor(value / 10.0)` on the raw stored double (one correctly-
    * rounded division + exact floor — identical in any engine); TV is
    * Σ|c_a·n_b − c_b·n_a| over bins, cross-multiplied in DECIMAL(38) so
    * no per-bin division ever happens, then ONE int64 floor ppm:
    * tv_ppm = 10⁶·Σ / (2·n_a·n_b). NULL when either half is empty.
    *
    * Scale (100 TB): the histogram is a map-side-combinable aggregate to
    * |types|·|bins| rows; the time-range scalar broadcasts; the TV fold
    * is a second tiny aggregate. Two scans of events (range + histogram)
    * — fusable to one with a cached range at deploy time — and nothing
    * ever shuffles at event granularity. */
  def q47(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.t(s, dir, "events")
      .select($"event_type", unix_micros($"ts").as("us"), $"value")
    val mid = ev.agg(
      ((min($"us") + max($"us")).cast(LongType)).as("mm"))
      .select(expr("mm div 2").as("mid_us"))
    val dec0 = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
    val hist = ev.crossJoin(broadcast(mid))
      .select($"event_type", floor($"value" / 10.0d).cast(LongType).as("bin"),
        ($"us" < $"mid_us").as("first_half"))
      .groupBy($"event_type", $"bin")
      .agg(
        sum(when($"first_half", 1L).otherwise(0L)).as("ca"),
        sum(when(!$"first_half", 1L).otherwise(0L)).as("cb"))
    val wT = Window.partitionBy($"event_type")
    hist
      .withColumn("na", sum($"ca").over(wT))
      .withColumn("nb", sum($"cb").over(wT))
      .groupBy($"event_type")
      .agg(
        min($"na").as("n_first"),
        min($"nb").as("n_second"),
        count(lit(1)).as("n_bins"),
        sum(abs(dec0($"ca") * dec0($"nb") - dec0($"cb") * dec0($"na")))
          .as("s"))
      .select($"event_type", $"n_first", $"n_second", $"n_bins",
        when($"n_first" > 0 && $"n_second" > 0,
          ($"s" * lit(1000000)).cast(DecimalType(38, 0))
            .divide(dec0($"n_first") * dec0($"n_second") * lit(2))
            .cast(LongType))
          .as("tv_ppm"))
      .orderBy($"event_type")
  }

  val q47Sql: String =
    """WITH ev AS (
      |  SELECT event_type, epoch_us(ts) AS us, value FROM events),
      |mid AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid_us FROM ev),
      |hist AS (
      |  SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bin,
      |    CAST(SUM(CASE WHEN us < mid_us THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN us >= mid_us THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM ev, mid GROUP BY 1, 2),
      |tot AS (
      |  SELECT event_type, bin, ca, cb,
      |    CAST(SUM(ca) OVER (PARTITION BY event_type) AS BIGINT) AS na,
      |    CAST(SUM(cb) OVER (PARTITION BY event_type) AS BIGINT) AS nb
      |  FROM hist)
      |SELECT event_type,
      |  MIN(na) AS n_first, MIN(nb) AS n_second,
      |  CAST(COUNT(*) AS BIGINT) AS n_bins,
      |  CASE WHEN MIN(na) > 0 AND MIN(nb) > 0 THEN
      |    CAST((SUM(abs(CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na))
      |      * 1000000) // (2 * CAST(MIN(na) AS HUGEINT) * MIN(nb)) AS BIGINT)
      |  END AS tv_ppm
      |FROM tot GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q48
  /** Lag-1 / lag-24 autocorrelation of the hourly event-count series —
    * the seasonality check read next to q43's spike monitor: strong
    * lag-24 correlation says the series has a daily cycle (so anomaly
    * baselines must be same-hour-of-day, not trailing); strong lag-1
    * says volume is bursty-persistent (a spike predicts the next hour).
    * Computed as Pearson r between c_t and c_{t−k} over the densified
    * hourly spine (q43's zero-filled grid — silent hours are real
    * observations of zero, and skipping them would splice distant hours
    * into adjacent pairs).
    *
    * Determinism: every moment (n, Σx, Σy, Σxy, Σx², Σy²) is an exact
    * integer in DECIMAL(38,0); r is then a fixed tree of IEEE ops
    * (two casts, one multiply, sqrt, divide, round) mirrored
    * token-for-token in the oracle — bit-identical.
    *
    * Scale (100 TB): the only corpus-proportional stage is events →
    * hourly counts, a map-side-combinable aggregate; the spine, the
    * single-partition lag window and the moment aggregate all run on the
    * ≤ 8760-rows/year series (q43's argument). Both lags ride ONE window
    * pass, and the two output rows project from one lazily-checkpointed
    * moment row, so the heavy aggregate runs exactly once. */
  def q48(s: SparkSession, dir: String): DataFrame =
    hourlyAutocorr(Tables.t(s, dir, "events"))

  /** q48's kernel over any frame with a `ts` column — split out so the
    * spec can pin the correlation arithmetic on constructed series (a
    * perfectly 24-periodic pulse train → lag-24 r = 1; a constant series
    * → zero variance → NULL). */
  private[graft] def hourlyAutocorr(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val dec0 = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
    val counts = events
      .groupBy(date_trunc("hour", $"ts").as("hour"))
      .agg(count(lit(1)).as("cnt"))
    val spine = counts
      .agg(min($"hour").as("lo"), max($"hour").as("hi"))
      .select(explode(sequence($"lo", $"hi", expr("INTERVAL 1 HOUR"))).as("hour"))
    val dense = spine.join(counts, Seq("hour"), "left")
      .select($"hour", coalesce($"cnt", lit(0L)).as("cnt"))
    val w = Window.orderBy($"hour")
    val lagged = dense
      .withColumn("y1", lag($"cnt", 1).over(w))
      .withColumn("y24", lag($"cnt", 24).over(w))
    val mk = lagged.agg(
      count($"y1").as("n1"),
      sum(when($"y1".isNotNull, dec0($"cnt"))).as("sx1"),
      sum(dec0($"y1")).as("sy1"),
      sum(dec0($"cnt") * dec0($"y1")).as("sxy1"),
      sum(when($"y1".isNotNull, dec0($"cnt") * dec0($"cnt"))).as("sxx1"),
      sum(dec0($"y1") * dec0($"y1")).as("syy1"),
      count($"y24").as("n24"),
      sum(when($"y24".isNotNull, dec0($"cnt"))).as("sx24"),
      sum(dec0($"y24")).as("sy24"),
      sum(dec0($"cnt") * dec0($"y24")).as("sxy24"),
      sum(when($"y24".isNotNull, dec0($"cnt") * dec0($"cnt"))).as("sxx24"),
      sum(dec0($"y24") * dec0($"y24")).as("syy24"))
      .localCheckpoint(eager = false)
    def rowFor(k: Int): DataFrame = {
      val (n, sx, sy, sxy, sxx, syy) =
        (col(s"n$k"), col(s"sx$k"), col(s"sy$k"),
          col(s"sxy$k"), col(s"sxx$k"), col(s"syy$k"))
      val num = n * sxy - sx * sy
      val varx = n * sxx - sx * sx
      val vary = n * syy - sy * sy
      mk.select(
        lit(k).as("lag_h"), n.as("n_pairs"),
        when(varx > 0 && vary > 0,
          round(dbl(num) / sqrt(dbl(varx) * dbl(vary)), 6)).as("autocorr"))
    }
    rowFor(1).unionAll(rowFor(24)).orderBy($"lag_h")
  }

  val q48Sql: String = {
    def momentsFor(k: Int): String =
      s"""    COUNT(y$k) AS n$k,
         |    SUM(CASE WHEN y$k IS NOT NULL THEN CAST(cnt AS HUGEINT) END) AS sx$k,
         |    SUM(CAST(y$k AS HUGEINT)) AS sy$k,
         |    SUM(CAST(cnt AS HUGEINT) * y$k) AS sxy$k,
         |    SUM(CASE WHEN y$k IS NOT NULL THEN CAST(cnt AS HUGEINT) * cnt END) AS sxx$k,
         |    SUM(CAST(y$k AS HUGEINT) * y$k) AS syy$k""".stripMargin
    def rowFor(k: Int): String =
      s"""SELECT $k AS lag_h, CAST(n$k AS BIGINT) AS n_pairs,
         |  CASE WHEN n$k * sxx$k - sx$k * sx$k > 0
         |        AND n$k * syy$k - sy$k * sy$k > 0 THEN
         |    round(CAST(n$k * sxy$k - sx$k * sy$k AS DOUBLE) /
         |      sqrt(CAST(n$k * sxx$k - sx$k * sx$k AS DOUBLE)
         |         * CAST(n$k * syy$k - sy$k * sy$k AS DOUBLE)), 6)
         |  END AS autocorr
         |FROM m""".stripMargin
    s"""WITH counts AS (
       |  SELECT date_trunc('hour', ts) AS hour, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1),
       |spine AS (
       |  SELECT UNNEST(generate_series(
       |    (SELECT MIN(hour) FROM counts), (SELECT MAX(hour) FROM counts),
       |    INTERVAL 1 HOUR)) AS hour),
       |dense AS (
       |  SELECT s.hour, COALESCE(c.cnt, 0) AS cnt
       |  FROM spine s LEFT JOIN counts c ON s.hour = c.hour),
       |lagged AS (
       |  SELECT cnt,
       |    lag(cnt, 1) OVER (ORDER BY hour) AS y1,
       |    lag(cnt, 24) OVER (ORDER BY hour) AS y24
       |  FROM dense),
       |m AS (
       |  SELECT
       |${momentsFor(1)},
       |${momentsFor(24)}
       |  FROM lagged)
       |${rowFor(1)}
       |UNION ALL
       |${rowFor(24)}
       |ORDER BY lag_h""".stripMargin
  }

  // ---------------------------------------------------------------- q49
  /** Per-user event-type transition matrix (first-order Markov counts) —
    * the behavioral fingerprint read next to q23's fixed funnel: where
    * the funnel asks "how many users completed THIS path", the transition
    * matrix reports EVERY adjacent pair's frequency, surfacing the paths
    * nobody thought to define (a heavy checkout→click backflow, an
    * error→error self-loop). Within each user's ts-ordered stream, each
    * event contributes one (type → next type) observation; the matrix
    * aggregates globally with a row-conditional probability in ppm.
    *
    * Determinism: the per-user order is (ts, event_id) — total even on
    * ts ties; counts are exact integers and p_ppm is integer floor
    * division (1000000·n div row_total), so no FP appears anywhere.
    *
    * Scale (100 TB): one shuffle on user_id (the same bounded-state
    * exchange family as q17/q38/q42 — per-user windows never concentrate
    * on a partition beyond the hottest user's event count), then a
    * map-side-combinable count collapsing to |types|² rows; the row
    * totals are a second aggregate OVER that tiny matrix, broadcast back.
    * Nothing downstream of the window grows with the corpus. */
  def q49(s: SparkSession, dir: String): DataFrame =
    transitionMatrix(Tables.t(s, dir, "events"))

  /** q49's kernel over any (user_id, ts, event_id, event_type) frame —
    * split out so the spec can pin the counting and ppm arithmetic on
    * constructed streams (tie-broken ordering, per-user isolation, row
    * sums). */
  private[graft] def transitionMatrix(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val trans = events
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("to_type", lead($"event_type", 1).over(w))
      .filter($"to_type".isNotNull)
      .groupBy($"event_type".as("from_type"), $"to_type")
      .agg(count(lit(1)).as("n_trans"))
    val tot = trans.groupBy($"from_type").agg(sum($"n_trans").as("tot"))
    trans.join(broadcast(tot), Seq("from_type"))
      .select($"from_type", $"to_type", $"n_trans",
        expr("(1000000 * n_trans) div tot").as("p_ppm"))
      .orderBy($"from_type", $"to_type")
  }

  val q49Sql: String =
    """WITH t AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS to_type
      |  FROM events),
      |c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_trans
      |      FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT from_type, SUM(n_trans) AS tot FROM c GROUP BY 1)
      |SELECT c.from_type, c.to_type, c.n_trans,
      |  CAST((1000000 * c.n_trans) // tot.tot AS BIGINT) AS p_ppm
      |FROM c JOIN tot ON c.from_type = tot.from_type
      |ORDER BY c.from_type, c.to_type""".stripMargin

  // ---------------------------------------------------------------- q50
  /** Top-20 within-session event-type path trigrams — the 3-step
    * extension of q49's pairwise matrix, bounded to q17's 30-minute
    * sessions so a path never spans a return visit: the "what do users
    * actually DO in one sitting" report that funnels (q23) hard-code and
    * the transition matrix can only approximate (a first-order chain has
    * no memory; the trigram table IS the second-order evidence).
    *
    * Determinism: the per-user order is (ts, event_id); session breaks
    * at gap ≥ 30 min mirror q17's session_window closure; counts are
    * exact integers and the top-20 cut orders by (n desc, t1, t2, t3).
    *
    * Scale (100 TB): ONE shuffle — every window (session flag, running
    * session id, both leads) rides the same user_id partitioning and
    * sort, so Catalyst plans a single exchange + sort; session
    * membership of the lead rows is checked with led session ids
    * instead of re-partitioning by (user, session). The trigram count
    * is map-side combinable and the top-20 lowers to
    * TakeOrderedAndProject. */
  def q50(s: SparkSession, dir: String): DataFrame =
    pathTrigrams(Tables.t(s, dir, "events"))

  /** q50's kernel over any (user_id, ts, event_id, event_type) frame —
    * split out so the spec can pin the session-break and windowing rules
    * on constructed streams. */
  private[graft] def pathTrigrams(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    events
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("brk",
        when(unix_micros($"ts") - unix_micros(lag($"ts", 1).over(w)) >=
          1800000000L, 1L).otherwise(lit(0L)))
      .withColumn("sess", sum($"brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("t2", lead($"event_type", 1).over(w))
      .withColumn("s2", lead($"sess", 1).over(w))
      .withColumn("t3", lead($"event_type", 2).over(w))
      .withColumn("s3", lead($"sess", 2).over(w))
      .filter($"s2" === $"sess" && $"s3" === $"sess")
      .groupBy($"event_type".as("t1"), $"t2", $"t3")
      .agg(count(lit(1)).as("n_paths"))
      .orderBy($"n_paths".desc, $"t1", $"t2", $"t3")
      .limit(20)
  }

  val q50Sql: String =
    """WITH o AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
      |           (PARTITION BY user_id ORDER BY ts, event_id)) >= 1800000000
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |s AS (SELECT user_id, ts, event_id, event_type,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM o),
      |l AS (SELECT event_type AS t1, sess,
      |    lead(event_type, 1) OVER w AS t2, lead(sess, 1) OVER w AS s2,
      |    lead(event_type, 2) OVER w AS t3, lead(sess, 2) OVER w AS s3
      |  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n_paths
      |FROM l WHERE s2 = sess AND s3 = sess
      |GROUP BY 1, 2, 3 ORDER BY n_paths DESC, t1, t2, t3 LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q51
  /** Activity-concentration profile: per-user event counts bucketed into
    * exact global deciles, with each decile's share of total volume in
    * ppm — the Lorenz curve of the event log. A top decile near 10⁶ ppm
    * is bot/power-user concentration (q44's skew meter at the USER
    * grain, before it becomes join skew); a flat profile says per-user
    * sampling caps are pointless. Read before designing user-level
    * sampling or rate limits.
    *
    * Determinism: deciles use the (cnt, user_id) total order; counts
    * and floor-div ppm are exact integers.
    *
    * Scale (100 TB): per-user counts are map-side combinable; the
    * decile assignment is t14's distributed exact ntile (range
    * repartition + per-partition offset ranks — NO single-partition
    * window over 10⁹ users); the rollup is 10 rows and the one-row
    * total broadcasts. */
  def q51(s: SparkSession, dir: String): DataFrame =
    activityDeciles(Tables.t(s, dir, "events"))

  /** q51's kernel over any frame with a `user_id` column. */
  private[graft] def activityDeciles(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val per = events
      .groupBy($"user_id").agg(count(lit(1)).as("cnt"))
    val deciled = TextAnalysis.globalNtile(per, 10, $"cnt", $"user_id")
    val tot = deciled.agg(sum($"cnt").as("tot"))
    deciled.groupBy($"decile")
      .agg(count(lit(1)).as("n_users"), sum($"cnt").as("n_events"))
      .crossJoin(broadcast(tot))
      .select($"decile", $"n_users", $"n_events",
        expr("(1000000 * n_events) div tot").as("share_ppm"))
      .orderBy($"decile")
  }

  val q51Sql: String =
    """WITH per AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
      |             FROM events GROUP BY user_id),
      |d AS (SELECT cnt, CAST(ntile(10) OVER (ORDER BY cnt, user_id)
      |        AS INTEGER) AS decile FROM per),
      |tot AS (SELECT SUM(cnt) AS t FROM d)
      |SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(cnt) AS BIGINT) AS n_events,
      |  CAST((1000000 * SUM(cnt)) // (SELECT t FROM tot) AS BIGINT)
      |    AS share_ppm
      |FROM d GROUP BY decile ORDER BY decile""".stripMargin

  // ---------------------------------------------------------------- q54
  /** U-shaped (position-based) multi-touch attribution — the standard
    * marketing-analytics credit model: every purchase distributes
    * exactly 10⁶ ppm of credit over the user's preceding touches
    * (click/view/signup, strictly before the purchase, within 7 days):
    * first and last touch get 40% each, the middles split the remaining
    * 20% by integer floor-div with the REMAINDER going to the first
    * touch (so per-purchase credit sums to exactly 10⁶ — auditable);
    * one touch takes 100%, two take 50/50. Output: per touch type, how
    * many touches earned credit and the total credit — the
    * budget-allocation readout.
    *
    * Determinism: touch order is (micros, event_id) — total; credit is
    * pure integer arithmetic on (rank, n).
    *
    * Scale (100 TB): the purchase×touch pairing is a user-keyed join
    * with a time-range residual — fan-out bounded per user by activity,
    * never cross-user; ranks and counts ride ONE window exchange on the
    * purchase id; the rollup is |event types| rows with map-side
    * combine. No self-join of the full log (touches and purchases are
    * disjoint row sets of one scan). */
  def q54(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.t(s, dir, "events")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", unix_micros($"ts").as("pm"), $"event_id".as("pid"))
    val touches = ev.filter($"event_type".isin("click", "view", "signup"))
      .select($"user_id", unix_micros($"ts").as("tm"),
        $"event_id".as("tid"), $"event_type".as("touch_type"))
    val week = 7L * 24 * 3600 * 1000000L
    val paired = purchases.join(touches, Seq("user_id"))
      .filter($"tm" < $"pm" && $"tm" >= $"pm" - week)
    val w = Window.partitionBy($"pid").orderBy($"tm", $"tid")
    val ws = Window.partitionBy($"pid")
    paired
      .withColumn("rn", row_number().over(w).cast(LongType))
      .withColumn("n", count(lit(1)).over(ws))
      .withColumn("credit_ppm",
        when($"n" === 1, lit(1000000L))
          .when($"n" === 2, lit(500000L))
          .when($"rn" === $"n", lit(400000L))
          .when($"rn" === 1,
            lit(400000L) + lit(200000L) - ($"n" - 2) * expr("200000 div (n - 2)"))
          .otherwise(expr("200000 div (n - 2)")))
      .groupBy($"touch_type")
      .agg(count(lit(1)).as("n_touches"), sum($"credit_ppm").as("credit_ppm"))
      .orderBy($"touch_type")
  }

  val q54Sql: String =
    """WITH p AS (SELECT user_id, epoch_us(ts) AS pm, event_id AS pid
      |           FROM events WHERE event_type = 'purchase'),
      |t AS (SELECT user_id, epoch_us(ts) AS tm, event_id AS tid,
      |        event_type AS touch_type
      |      FROM events WHERE event_type IN ('click', 'view', 'signup')),
      |paired AS (
      |  SELECT p.pid, t.tid, t.tm, t.touch_type
      |  FROM p JOIN t ON p.user_id = t.user_id
      |  WHERE t.tm < p.pm AND t.tm >= p.pm - 604800000000),
      |r AS (SELECT pid, tid, touch_type,
      |    CAST(row_number() OVER (PARTITION BY pid ORDER BY tm, tid) AS BIGINT) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY pid) AS BIGINT) AS n
      |  FROM paired),
      |c AS (SELECT touch_type,
      |    CASE WHEN n = 1 THEN 1000000
      |         WHEN n = 2 THEN 500000
      |         WHEN rn = n THEN 400000
      |         WHEN rn = 1 THEN 400000 + 200000 - (n - 2) * (200000 // (n - 2))
      |         ELSE 200000 // (n - 2) END AS credit_ppm
      |  FROM r)
      |SELECT touch_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
      |  CAST(SUM(credit_ppm) AS BIGINT) AS credit_ppm
      |FROM c GROUP BY touch_type ORDER BY touch_type""".stripMargin

  // ---------------------------------------------------------------- q70
  /** Half-life-decayed user value — the recency-weighted engagement
    * feature a ranking/training pipeline derives from an event log:
    * each event's spend decays by ½ per week of age at a fixed as-of
    * anchor, so score = Σ value·2^(−age_weeks). Exponential decay is
    * normally a float op; here the half-life is a power of two, so the
    * weight is the INTEGER 2²⁰ ≫ age_weeks and the whole feature is
    * exact fixed-point arithmetic — bit-identical on any engine and
    * auditable (decayed_fp div 2²⁰ = whole decayed cents).
    *
    * The shift is CLAMPED ON BOTH TAILS on both sides: age ≥ 21 weeks
    * → weight 0 (Java's `>>` wraps the shift count mod 64 — 1048576 >>
    * 84 = 1 — while DuckDB saturates, so an unclamped upper tail
    * diverges on any corpus spanning > 64 weeks), and age < 0 (event
    * after the as-of anchor) → full weight 2²⁰ (a negative shift count
    * wraps in Java but saturates-to-0 in DuckDB at age ≤ −44; future
    * events deserve undivided weight, not silent zero).
    *
    * Scale shape: pure scan work into ONE user-keyed
    * map-side-combining aggregate; no window, no join. */
  def q70(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.t(s, dir, "events")
      .select($"user_id", $"event_id",
        round($"value" * 100).cast(LongType).as("v2"),
        expr("(unix_micros(to_timestamp('2024-01-31 00:00:00')) " +
          "- unix_micros(ts)) div 604800000000").as("age_w"))
      .withColumn("w",
        when($"age_w" < 0L, 1048576L)
          .when($"age_w" >= 21L, 0L)
          .otherwise(expr("shiftright(1048576L, cast(age_w as int))")))
    base.groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum($"v2").as("raw_cents"),
        sum($"v2" * $"w").as("decayed_fp"))
      .withColumn("decayed_cents", expr("decayed_fp div 1048576"))
      .orderBy($"user_id")
  }

  val q70Sql: String =
    """WITH e AS (
      |  SELECT user_id,
      |    CAST(round(value * 100) AS BIGINT) AS v2,
      |    (epoch_us(TIMESTAMP '2024-01-31 00:00:00') - epoch_us(ts))
      |      // 604800000000 AS age_w
      |  FROM events),
      |w AS (SELECT user_id, v2,
      |    CASE WHEN age_w < 0 THEN 1048576
      |         WHEN age_w >= 21 THEN 0
      |         ELSE 1048576 >> age_w END AS w
      |  FROM e)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(v2) AS BIGINT) AS raw_cents,
      |  CAST(SUM(v2 * w) AS BIGINT) AS decayed_fp,
      |  CAST(SUM(v2 * w) // 1048576 AS BIGINT) AS decayed_cents
      |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q77
  /** Watermark-delay planner — the batch audit that decides what
    * `withWatermark` delay the streaming twins should ship: for each
    * candidate delay, how many events would a watermark drop? An event's
    * LATENESS is the event-time frontier at its arrival (inclusive
    * running max of ts in arrival order) minus its own ts — exact
    * integer micros — and a delay D drops it when lateness > D·10⁶. The
    * four candidate delays (1 min / 10 min / 1 h / 1 d) cover the
    * decision range of every gate in [[graft.streaming.Streams]].
    * Arrival order models a rate-matched consumer interleaving 8
    * user-keyed source partitions by per-partition sequence number (see
    * inline note), so lateness measures the real thing a watermark
    * fights: cross-partition event-time skew.
    *
    * Determinism: exact integer micros, total (seq, part) arrival
    * order with (part, ts, event_id)-total sequence derivation,
    * integer-ppm drop rates.
    *
    * Scale (100 TB): ONE corpus-sized substrate pass (fused from the
    * round-12 shape's two). The range layout on (part, ts, event_id)
    * serves BOTH driver folds in a single ≤(pids+parts)-row collect —
    * parts are contiguous in that order, so per-(pid, part) cell counts
    * fold into the global-rank pid offsets AND the per-part start
    * offsets together — and seq derives narrowly (local row_number +
    * two map-literal lookups, no join). The arrival frontier then
    * avoids a second full-corpus ordered pass via the identity
    * frontier(s, p) = max(R(s−1), cmax(s, p)): rounds collapse 8:1 into
    * hard-bounded (≤ |parts| elements) sorted struct arrays in one hash
    * exchange, only that ROUND-domain frame rides
    * [[Q.prefixMaxExclusive]], and the intra-round fold (running cmax +
    * one lateness counter per candidate delay) is a per-row `aggregate`
    * expression. One keyless map-side-combining aggregate sums the
    * counters and the 4-row output unpivots narrowly (q37's stack). No
    * single-partition stage anywhere.
    *
    * Floor adjudication (round 16, committed stress pairs — the ev10x/
    * ev40x tiers exist for this query): the sf0.1 ratio (~10x vs a
    * 0.16 s single-process CTE) collapses as data grows — 10x events:
    * Spark 5.6-7.3 s vs DuckDB 2.7-5.0 s (1.5-2.0x across the two
    * paired windows); 40x events: Spark 11.5 s vs DuckDB 6.1 s (1.9x)
    * with Spark growing ~1.6x per 4x data vs the oracle's ~1.2-2.2x.
    * The knob probe at 10x (shuffle.partitions=8, AQE off → 5.6 to
    * 7.3 s) confirms the residual is parallel work plus the plan's ~7
    * sequential stage rounds, not a mis-shape; the absolute gap is the
    * range-layout exchange a single process skips, which is exactly
    * the distributable part at cluster scale. */
  def q77(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val delays = Seq(60L, 600L, 3600L, 86400L)
    // Modeled ingestion (the ledger's test-data stand-in class): the log
    // is perfectly time-ordered, so arrival order is modeled as a
    // rate-matched consumer draining 8 user-keyed source partitions
    // round-robin by per-partition sequence number — the interleave a
    // Kafka-style consumer actually produces, where lateness IS the
    // cross-partition event-time skew. A real deployment reads seq from
    // the source's own offsets; here it derives scalably in ONE range
    // pass: rows of a part are contiguous under (part, ts, event_id)
    // order, so seq = pid-local row_number + rows-in-earlier-pids −
    // rows-before-the-part, both offsets from one tiny pid-ordered fold.
    val ev = Tables.t(s, dir, "events")
      .select(($"user_id" % 8).as("part"),
        unix_micros($"ts").as("tsu"), $"event_id")
    val keys = Seq($"part".asc, $"tsu".asc, $"event_id".asc)
    val nPids = math.max(1, s.sparkContext.defaultParallelism)
    val ranged = ev.repartitionByRange(nPids, keys: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(eager = false)
    val cells = ranged.groupBy($"__pid", $"part")
      .agg(count(lit(1)).as("n"))
      .orderBy($"__pid", $"part").collect() // ≤ pids + parts rows
    var cum = 0L
    val pidOff = scala.collection.mutable.LinkedHashMap.empty[Int, Long]
    val partOff = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
    cells.foreach { r =>
      // (pid, part) cell order IS global row order here: range partitions
      // are key-ordered and part leads the key, so the first time a pid
      // (resp. part) appears, `cum` counts exactly the rows before it
      val pid = r.getInt(0); val part = r.getLong(1)
      if (!pidOff.contains(pid)) pidOff(pid) = cum
      if (!partOff.contains(part)) partOff(part) = cum
      cum += r.getLong(2)
    }
    val wPid = Window.partitionBy($"__pid").orderBy(keys: _*)
    val seqd = ranged
      .withColumn("seq",
        row_number().over(wPid).cast(org.apache.spark.sql.types.LongType)
          + element_at(typedLit(pidOff.toMap), $"__pid")
          - element_at(typedLit(partOff.toMap), $"part"))
      .select($"part", $"tsu", $"seq")
    // frontier(s, p) = max over arrival predecessors-or-self of tsu
    //               = max(R(s−1), cmax(s, p))
    // where cmax is the intra-round running max over parts ≤ p and R the
    // running per-round max. A round holds ≤ |parts| = 8 events (seq is
    // unique within a part), so collapsing rounds to sorted (part, tsu)
    // structs is a HARD-BOUNDED collect (8 elements), the only ordered
    // pass runs on the 8:1-collapsed round frame via
    // [[Q.prefixMaxExclusive]], and the whole intra-round frontier fold
    // — running cmax plus one lateness counter per candidate delay — is
    // a single codegen-friendly `aggregate` over each tiny array. No
    // corpus-sized join, window, or second checkpoint.
    val roundAgg = seqd.groupBy($"seq")
      .agg(sort_array(collect_list(struct($"part", $"tsu"))).as("evs"),
        max($"tsu").as("m"))
      // pinned: prefixMax's range sampling and the fold both consume it
      .localCheckpoint(eager = false)
    val rPrev = Q.prefixMaxExclusive(roundAgg, Seq($"seq".asc), "m")
    // fold acc: (cmax = frontier so far, one counter per delay); rprev's
    // Long.MinValue sentinel on round 1 is absorbed by greatest()
    val accInit = "struct(__pmax as cmax" +
      delays.map(d => s", 0L as c$d").mkString + ")"
    val accStep = "(acc, x) -> struct(greatest(acc.cmax, x.tsu) as cmax" +
      delays.map(d => s", acc.c$d + (case when greatest(acc.cmax, x.tsu)" +
        s" - x.tsu > ${d}000000L then 1L else 0L end) as c$d").mkString + ")"
    val perRound = rPrev.select(
      size($"evs").cast(org.apache.spark.sql.types.LongType).as("n"),
      expr(s"aggregate(evs, $accInit, $accStep)").as("cs"))
    // keyless agg → exactly ONE wide row on any input, so the stack
    // always yields |delays| rows; sums coalesce to 0 and the ppm NULLs
    // on an empty log — the oracle's correlated-subquery form matches
    // both shapes row for row (the q68 empty-input rule, both ways)
    val aggs = coalesce(sum($"n"), lit(0L)).as("n_events") +:
      delays.map(d =>
        coalesce(sum(col(s"cs.c$d")), lit(0L)).as(s"late_$d"))
    val wide = perRound.agg(aggs.head, aggs.tail: _*)
    val stackArgs = delays.map(d => s"${d}L, late_$d").mkString(", ")
    wide.select($"n_events", expr(
        s"stack(${delays.size}, $stackArgs) as (delay_s, n_late)"))
      .select($"delay_s", $"n_events", $"n_late",
        expr("case when n_events > 0 then (1000000 * n_late) div n_events end")
          .as("late_ppm"))
      .orderBy($"delay_s")
  }

  val q77Sql: String =
    """WITH e AS (
      |  SELECT user_id % 8 AS part, epoch_us(ts) AS tsu,
      |    row_number() OVER (PARTITION BY user_id % 8
      |      ORDER BY epoch_us(ts), event_id) AS seq
      |  FROM events),
      |f AS (
      |  SELECT tsu,
      |    MAX(tsu) OVER (ORDER BY seq, part
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pmax
      |  FROM e),
      |l AS (SELECT pmax - tsu AS late_us FROM f),
      |d AS (SELECT CAST(UNNEST([60, 600, 3600, 86400]) AS BIGINT) AS delay_s)
      |SELECT d.delay_s,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM l) AS n_events,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM l
      |   WHERE late_us > d.delay_s * 1000000) AS n_late,
      |  CASE WHEN (SELECT COUNT(*) FROM l) > 0 THEN
      |    CAST((1000000 * (SELECT COUNT(*) FROM l
      |      WHERE late_us > d.delay_s * 1000000))
      |      // (SELECT COUNT(*) FROM l) AS BIGINT)
      |  END AS late_ppm
      |FROM d ORDER BY d.delay_s""".stripMargin

  def all: Seq[Q] = Seq(
    Q("q17_sessionize", q17, Some(q17Sql)),
    Q("q18_asof_join", q18, Some(q18Sql)),
    Q("q35_retention", q35, Some(q35Sql)),
    Q("q36_concurrency", q36, Some(q36Sql)),
    Q("q38_streaks", q38, Some(q38Sql)),
    Q("q39_compaction", q39, Some(q39Sql)),
    Q("q40_user_growth", q40, Some(q40Sql)),
    Q("q41_rolling_active", q41, Some(q41Sql)),
    Q("q42_scd2_intervals", q42, Some(q42Sql)),
    Q("q43_hourly_anomaly", q43, Some(q43Sql)),
    Q("q45_asof_forward", q45, Some(q45Sql)),
    Q("q46_event_gaps", q46, Some(q46Sql)),
    Q("q47_value_drift", q47, Some(q47Sql)),
    Q("q48_hourly_autocorr", q48, Some(q48Sql)),
    Q("q49_event_transitions", q49, Some(q49Sql)),
    Q("q50_path_trigrams", q50, Some(q50Sql)),
    Q("q51_activity_deciles", q51, Some(q51Sql)),
    Q("q52_relational_division", q52, Some(q52Sql)),
    Q("q54_attribution", q54, Some(q54Sql)),
    Q("q70_decayed_value", q70, Some(q70Sql)),
    Q("q77_watermark_planner", q77, Some(q77Sql)))

  // ---------------------------------------------------------------- q52
  /** Relational division with support — "users who performed EVERY event
    * type, each at least [[DivisionSupport]] times" — the classic ÷
    * operator missing from the join/set family, in its thresholded form
    * (plain division is vacuous on this log: every user touches every
    * type eventually; habitual completeness splits the population
    * 73/150 at sf0.01). The scalable plan is count-matching, not
    * |types| chained semi-joins: collapse to (user, type, count) with a
    * map-side-combinable aggregate, keep qualifying types, count per
    * user, and keep users whose qualifying-type count equals the global
    * domain size (a broadcast 1-row cross join).
    *
    * Determinism: pure integer counts; the example ids are MIN/MAX.
    *
    * Scale (100 TB): two exchanges — the (user, type) collapse
    * (combines map-side; ≤|users|·|types| rows out) and the per-user
    * count (|users| rows); the domain size is one broadcast row. The
    * naive formulation (anti-join of the user×domain cross product)
    * builds |users|·|types| rows AGAIN just to look for holes; the
    * count-match never materializes a cross product. */
  val DivisionSupport = 10

  def q52(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val utc = Tables.t(s, dir, "events")
      .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // reused: domain + per-user count
    val domain = utc.agg(countDistinct($"event_type").as("n_types"))
    val perUser = utc.filter($"c" >= DivisionSupport)
      .groupBy($"user_id").agg(count(lit(1)).as("n"))
    val allUsers = utc.select($"user_id").distinct()
      .agg(count(lit(1)).as("n_users"))
    val complete = perUser.crossJoin(broadcast(domain))
      .filter($"n" === $"n_types")
    complete.agg(
      count(lit(1)).as("n_complete_users"),
      min($"user_id").as("first_complete"),
      max($"user_id").as("last_complete"))
      .crossJoin(broadcast(allUsers))
      .crossJoin(broadcast(domain))
      .select($"n_types", $"n_users", $"n_complete_users",
        expr("(1000000 * n_complete_users) div n_users").as("complete_ppm"),
        $"first_complete", $"last_complete")
  }

  val q52Sql: String =
    s"""WITH utc AS (SELECT user_id, event_type, COUNT(*) AS c
       |  FROM events GROUP BY 1, 2),
       |dom AS (SELECT COUNT(DISTINCT event_type) AS n_types FROM utc),
       |pu AS (SELECT user_id, COUNT(*) AS n FROM utc
       |       WHERE c >= $DivisionSupport GROUP BY user_id),
       |c AS (SELECT pu.user_id FROM pu, dom WHERE pu.n = dom.n_types)
       |SELECT dom.n_types,
       |  CAST((SELECT COUNT(DISTINCT user_id) FROM utc) AS BIGINT) AS n_users,
       |  CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_complete_users,
       |  CAST((1000000 * (SELECT COUNT(*) FROM c))
       |    // (SELECT COUNT(DISTINCT user_id) FROM utc) AS BIGINT)
       |    AS complete_ppm,
       |  (SELECT MIN(user_id) FROM c) AS first_complete,
       |  (SELECT MAX(user_id) FROM c) AS last_complete
       |FROM dom""".stripMargin
}
