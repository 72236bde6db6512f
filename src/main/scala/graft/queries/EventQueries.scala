package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [EXT] event-stream analytics over the driver's `events` table (SURVEY.md
  * §2.5 W4, §2.7 F17, §2.8 ST7): the analytic-window / event-time /
  * JSON-scalar surface the reference never needed but the north-star engine
  * ships. Batch twins of the streaming queries in `graft.streaming`.
  *
  * Timestamp discipline: every derivation floors `events.ts` to
  * epoch-micros first ([[tsUsCol]] vs DuckDB's `epoch_us(ts)`), keeping
  * both engines bit-identical regardless of which physical timestamp type
  * the fixture vintage carries.
  */
object EventQueries {

  /** Epoch-microsecond column for `events.ts`, robust to both fixture
    * vintages: TIMESTAMP(NANOS) parquet surfaces as epoch-nanos LONG under
    * `spark.sql.legacy.parquet.nanosAsLong` (floor-divide to micros);
    * TIMESTAMP(MICROS) surfaces as TIMESTAMP_NTZ, which the UTC session
    * every graft entrypoint pins (`spark.sql.session.timeZone=UTC`) makes
    * a pure reinterpretation under the NTZ→TIMESTAMP cast, so
    * `unix_micros` lands exactly on DuckDB's `epoch_us(ts)`. */
  private[graft] def tsUsCol(df: DataFrame): Column =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }

  private def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = graft.plans.Tables.table(spark, dir, "events")
    raw.withColumn("ts_us", tsUsCol(raw))
      .withColumn("ts_utc", timestamp_micros(col("ts_us")))
  }

  /** Tumbling 1-hour rollup via Spark's native `window()` — at scale one
    * partial-agg shuffle keyed by (hour, type); group count is bounded by
    * hours×types, so the reduce side is tiny regardless of input rows. */
  def e1HourlyRollup(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts_utc"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy("hour_start", "event_type")

  /** Sessionization by 30-min inactivity gap: lag + running conditional sum
    * — the batch analogue of `session_window` (ST7). One shuffle by
    * user_id; both window passes reuse that partitioning. */
  def e2Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    events(spark, dir)
      .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
      .withColumn("is_new",
        (col("gap_us").isNull || col("gap_us") > 1800L * 1000000L).cast("int"))
      .withColumn("session_no", sum(col("is_new")).over(w))
      .select(col("event_id"), col("user_id"), col("ts_utc").as("ts"),
        col("session_no"))
      .orderBy("user_id", "event_id")
  }

  /** Latest event per user — the rank-1 window shape (same as the status
    * machine's latest-per-key view; Spark 4 plans WindowGroupLimit so only
    * each partition's top row survives the shuffle). */
  def e3LatestPerUser(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        col("ts_utc").as("ts"))
      .orderBy("user_id")
  }

  /** F17 — JSON scalar extraction over `props` + grouped rollup:
    * `get_json_object` is codegen'd; the exact distinct count shuffles once
    * (for the 100 TB path swap in approx_count_distinct — kept exact here
    * for oracle comparability). */
  def e4JsonProps(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"),
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** Running per-user cumulative value (rows-unbounded-preceding frame) in
    * exact DECIMAL so the reduction order can't change the answer. */
  def e5RunningValue(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(spark, dir)
      .withColumn("cum_value",
        sum(col("value").cast("decimal(12,2)")).over(w).cast("double"))
      .select(col("event_id"), col("user_id"), col("cum_value"))
      .orderBy("user_id", "event_id")
  }

  /** Set ops (SURVEY §2.6): (user, day) pairs with a view but no error =
    * DISTINCT ∖ DISTINCT (EXCEPT has set semantics in both engines).
    * User-day granularity, not user: with few distinct users every user
    * eventually hits every event type and plain user-level EXCEPT is empty. */
  def e6ViewersNoError(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .withColumn("day", to_date(col("ts_utc")))
    ev.filter(col("event_type") === "view").select("user_id", "day")
      .except(ev.filter(col("event_type") === "error").select("user_id", "day"))
      .orderBy("user_id", "day")
  }

  /** Range-frame window (SURVEY §2.5 W4): per-user trailing-1-hour value
    * sum ordered by event time — RANGE frames bound by the time axis, not
    * row counts. Decimal accumulation for order-independence. */
  def e7TrailingHour(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-3600L * 1000000L, Window.currentRow)
    events(spark, dir)
      .withColumn("trailing_1h",
        sum(col("value").cast("decimal(12,2)")).over(w).cast("double"))
      .select(col("event_id"), col("user_id"), col("trailing_1h"))
      .orderBy("user_id", "event_id")
  }

  /** INTERSECT (SURVEY §2.6): user-days with both a view and a purchase. */
  def e8EngagedDays(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).withColumn("day", to_date(col("ts_utc")))
    ev.filter(col("event_type") === "view").select("user_id", "day")
      .intersect(ev.filter(col("event_type") === "purchase").select("user_id", "day"))
      .orderBy("user_id", "day")
  }

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Pivot: per-user event-type counts as columns. Spark's native
    * `pivot(col, values)` with the value list pinned (never inferred — an
    * inference pass is an extra job and nondeterministic column order). */
  def e9PivotUserType(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", eventTypes)
      .agg(count(lit(1)))
      .na.fill(0L, eventTypes)
      .orderBy("user_id")

  /** ntile(4) by value within each event type — the quantile-bucket window. */
  def e10ValueQuartiles(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        ntile(4).over(w).as("quartile"))
      .orderBy("event_type", "event_id")
  }

  /** Unpivot (the inverse of e9): wide per-user type counts back to long
    * (user_id, event_type, n) rows via `stack` — the melt operation. */
  def e11UnpivotCounts(spark: SparkSession, dir: String): DataFrame = {
    val wide = e9PivotUserType(spark, dir)
    val stackExpr = eventTypes.map(t => s"'$t', $t").mkString(", ")
    wide.selectExpr("user_id",
        s"stack(${eventTypes.size}, $stackExpr) AS (event_type, n)")
      .filter(col("n") > 0)
      .orderBy("user_id", "event_type")
  }

  /** Exact interpolated percentiles of value per event type — the exact
    * twin of ApproxQueries.xPriceQuantiles (both engines use linear
    * interpolation; rounded to 6 to absorb arithmetic-order ulps). */
  def e12ValuePercentiles(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.95)"), 6).as("p95"))
      .orderBy("event_type")

  /** Retention cohort matrix: users grouped by their first active day,
    * counted on each later day-offset — the table behind every retention
    * curve. Plan shape at 100 TB: the (user, day) DISTINCT collapses the
    * event stream to at most users×days rows before anything else runs;
    * the first-day aggregate and the join both key by user_id, so AQE
    * plans one user-keyed exchange feeding both; the final aggregate's
    * key space (days × offsets) is tiny by construction, so partial
    * aggregation collapses it map-side. A user appears at most once per
    * (cohort_day, day_offset) because offset is a function of day within
    * user, so plain COUNT(*) IS the distinct-user count — no second
    * distinct pass needed. */
  def e13RetentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val days = events(spark, dir)
      .select(col("user_id"), to_date(col("ts_utc")).as("day"))
      .distinct()
    val firsts = days.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    days.join(firsts, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("bigint").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** e14's conversion windows (epoch-micros), shared with the streaming
    * funnel state machine (streaming/EventStream.funnelAtIngest) so batch
    * and stream cannot drift — the mixHash/Fingerprint discipline. The
    * oracle SQL inlines the same literals (EntrySmokeSpec would catch an
    * edit to one side via the driver gate; the constants are the single
    * Scala-side source). */
  private[graft] val FunnelClickWindowUs: Long = 3600L * 1000000L
  private[graft] val FunnelPurchaseWindowUs: Long = 86400L * 1000000L

  /** Strict sequential conversion funnel with per-step windows: first
    * view → first click within 1 h of that view → first purchase within
    * 24 h of that click, one row per funnel-entered user with the step
    * timestamps and reached depth. Timestamps stay in epoch-micros
    * (BIGINT) end to end — the engine-shared time axis (see the module
    * scaladoc), so window arithmetic is exact integer comparison. Plan
    * shape at 100 TB: every stage is a user_id-keyed aggregate or join —
    * one partitioning reused down the whole chain; each step's event-type
    * filter is pushed into the scan, and step N+1 only joins against the
    * (strictly smaller) survivors of step N, so work decays with funnel
    * depth instead of rescanning the stream per step. */
  def e14FunnelSteps(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("user_id"), col("event_type"), col("ts_us"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t_view"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts_us") > col("t_view") &&
        col("ts_us") <= col("t_view") + lit(FunnelClickWindowUs))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t_click"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts_us") > col("t_click") &&
        col("ts_us") <= col("t_click") + lit(FunnelPurchaseWindowUs))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t_purchase"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
        (lit(1) + when(col("t_click").isNotNull, 1).otherwise(0) +
          when(col("t_purchase").isNotNull, 1).otherwise(0)).as("depth"))
      .orderBy("user_id")
  }

  /** e15 — burst anomaly over hourly event-type counts: each (type, hour)
    * bucket's count against the mean of its trailing three hours, as an
    * exact-BIGINT micro-ratio (n x 3 x 1e6 DIV trailing sum — missing
    * hours count as zero via the fixed x3 denominator, so a burst after
    * silence scores maximal, which is the point of a burst signal). A
    * range frame over the hour key handles gapped series without
    * densification. The monitoring query an event pipeline alerts from;
    * no doubles anywhere, so the engines cannot diverge.
    *
    * Plan shape at 100 TB: one partial-agg shuffle onto the (type, hour)
    * key space (bounded: types x hours), then a window over that tiny
    * frame — the raw event volume never reaches the window. */
  def e15BurstRatio(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600000000L
    val hours = events(spark, dir)
      .groupBy(col("event_type"),
        (expr(s"ts_us div $hourUs") * hourUs).as("hour_us"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_us"))
      .rangeBetween(-3L * hourUs, -hourUs)
    hours
      .withColumn("trail_events",
        coalesce(sum(col("n_events")).over(w), lit(0L)))
      .withColumn("burst_micro",
        expr("CAST((n_events * 3 * 1000000) DIV greatest(trail_events, 1) AS BIGINT)"))
      .orderBy("event_type", "hour_us")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e15_burst_ratio" -> e15BurstRatio,
    "e13_retention_cohorts" -> e13RetentionCohorts,
    "e14_funnel_steps" -> e14FunnelSteps,
    "e11_unpivot_counts" -> e11UnpivotCounts,
    "e12_value_percentiles" -> e12ValuePercentiles,
    "e9_pivot_user_type" -> e9PivotUserType,
    "e10_value_quartiles" -> e10ValueQuartiles,
    "e7_trailing_hour" -> e7TrailingHour,
    "e8_engaged_days" -> e8EngagedDays,
    "e1_hourly_rollup" -> e1HourlyRollup,
    "e2_sessionize" -> e2Sessionize,
    "e3_latest_per_user" -> e3LatestPerUser,
    "e4_json_props" -> e4JsonProps,
    "e5_running_value" -> e5RunningValue,
    "e6_viewers_no_error" -> e6ViewersNoError)

  val oracleSql: Map[String, String] = Map(
    "e13_retention_cohorts" ->
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |firsts AS (SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id)
        |SELECT f.cohort_day,
        |       datediff('day', f.cohort_day, d.day) AS day_offset,
        |       COUNT(*) AS n_users
        |FROM days d JOIN firsts f ON d.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "e14_funnel_steps" ->
      """WITH v AS (SELECT user_id, MIN(epoch_us(ts)) AS t_view
        |           FROM events WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_click
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t_view
        |        AND epoch_us(e.ts) <= v.t_view + 3600000000 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_purchase
        |      FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t_click
        |        AND epoch_us(e.ts) <= c.t_click + 86400000000 GROUP BY e.user_id)
        |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
        |       1 + CASE WHEN c.t_click IS NULL THEN 0 ELSE 1 END
        |         + CASE WHEN p.t_purchase IS NULL THEN 0 ELSE 1 END AS depth
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |       LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id""".stripMargin,
    "e11_unpivot_counts" ->
      """SELECT user_id, event_type, COUNT(*) AS n
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,
    "e12_value_percentiles" ->
      """SELECT event_type,
        |       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 6) AS p50,
        |       round(percentile_cont(0.95) WITHIN GROUP (ORDER BY value), 6) AS p95
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "e9_pivot_user_type" -> {
      val cols = eventTypes.map(t =>
        s"COUNT(CASE WHEN event_type = '$t' THEN 1 END) AS $t").mkString(",\n        |       ")
      s"""SELECT user_id,
         |       $cols
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
    },
    "e10_value_quartiles" ->
      """SELECT event_id, event_type, value,
        |       ntile(4) OVER (PARTITION BY event_type
        |                      ORDER BY value, event_id) AS quartile
        |FROM events ORDER BY event_type, event_id""".stripMargin,
    "e15_burst_ratio" ->
      """SELECT event_type, hour_us, n_events, trail_events,
        |       CAST((n_events * 3 * 1000000) // GREATEST(trail_events, 1)
        |            AS BIGINT) AS burst_micro
        |FROM (
        |  SELECT event_type, hour_us, n_events,
        |         CAST(COALESCE(SUM(n_events) OVER w, 0) AS BIGINT) AS trail_events
        |  FROM (SELECT event_type,
        |               (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us,
        |               CAST(COUNT(*) AS BIGINT) AS n_events
        |        FROM events GROUP BY 1, 2)
        |  WINDOW w AS (PARTITION BY event_type ORDER BY hour_us
        |               RANGE BETWEEN 10800000000 PRECEDING
        |                         AND 3600000000 PRECEDING))
        |ORDER BY event_type, hour_us""".stripMargin,
    "e7_trailing_hour" ->
      """SELECT event_id, user_id,
        |       CAST(SUM(CAST(value AS DECIMAL(12,2)))
        |              OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |                    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |            AS DOUBLE) AS trailing_1h
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "e8_engaged_days" ->
      """SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |FROM events WHERE event_type = 'view'
        |INTERSECT
        |SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id, day""".stripMargin,
    "e1_hourly_rollup" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "e2_sessionize" ->
      """SELECT event_id, user_id, ts, session_no FROM (
        |  SELECT event_id, user_id, ts,
        |         CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS BIGINT) AS session_no
        |  FROM (
        |    SELECT event_id, user_id, ts, epoch_us(ts) AS ts_us,
        |           epoch_us(ts) - lag(epoch_us(ts), 1)
        |             OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
        |    FROM events))
        |ORDER BY user_id, event_id""".stripMargin,
    "e3_latest_per_user" ->
      """SELECT user_id, event_id, event_type, value, ts FROM (
        |  SELECT user_id, event_id, event_type, value, ts,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "e4_json_props" ->
      """SELECT event_type,
        |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |       COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "e5_running_value" ->
      """SELECT event_id, user_id,
        |       CAST(SUM(CAST(value AS DECIMAL(12,2)))
        |              OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS DOUBLE) AS cum_value
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "e6_viewers_no_error" ->
      """SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |FROM events WHERE event_type = 'view'
        |EXCEPT
        |SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |FROM events WHERE event_type = 'error'
        |ORDER BY user_id, day""".stripMargin)
}
