package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Q, Query}

/** Event-stream operators over the `events` fixture: time-bucketed
  * aggregation, gap-based sessionization expressed relationally
  * (lag + cumulative gap counter — the batch/backfill analog of the
  * streaming flatMapGroupsWithState path in graft.streaming), and JSON
  * property extraction.
  *
  * Timestamps: `events.ts` is nanosecond parquet; all arithmetic here
  * runs on epoch-micros longs (exact, engine-portable) rather than
  * engine timestamp types.
  */
object Events {
  import Fixtures._

  /** Tumbling-window counts per event type (1-hour buckets on epoch
    * micros — integer arithmetic, no timezone surface).
    */
  val eventsWindowCounts: Q = (s, d) =>
    events(s, d)
      .withColumn("hour_bucket", expr("ts_nanos div 1000 div 3600000000"))
      .groupBy(col("hour_bucket"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        decStr(sum(col("value").cast(DecimalType(18, 2))).cast(DecimalType(38, 2))).as("total_value"),
        countDistinct(col("user_id")).as("n_users")
      )
      .orderBy("hour_bucket", "event_type")

  /** Relational sessionization: per user, order events by time; a gap
    * > 30 min starts a new session (lag + cumulative sum of
    * session-start flags — single shuffle on user_id, the standard
    * scale-safe formulation; no per-user state object).
    */
  val eventsSessions: Q = (s, d) => {
    val gapMicros = 30L * 60 * 1000000
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    events(s, d)
      .withColumn("ts_us", expr("ts_nanos div 1000"))
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(byUser))
      .withColumn(
        "new_session",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > gapMicros, 1).otherwise(0)
      )
      .withColumn("session_id", sum(col("new_session")).over(byUser))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("user_id"))
      .agg(
        max(col("session_id")).cast("bigint").as("n_sessions"),
        max(col("n_events")).as("max_session_events"),
        sum(col("n_events")).as("n_total_events")
      )
      .orderBy("user_id")
  }

  /** JSON property extraction from the `props` column. */
  val eventsJsonExtract: Q = (s, d) =>
    events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
      .groupBy(col("event_type"))
      .agg(
        count(col("k")).as("n_with_k"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max"),
        sum(col("k")).as("k_sum")
      )
      .orderBy("event_type")

  /** As-of join via window accumulation: each purchase picks the most
    * recent prior click of the same user. This is the scale-safe
    * formulation of an as-of join — one shuffle on user_id and a
    * running max over the ordered stream, instead of a range-join
    * explosion (at 100 TB a naive `b.ts <= a.ts` join is quadratic in
    * events-per-user; the window is linear).
    */
  val eventsAsofJoin: Q = (s, d) => {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events(s, d)
      .withColumn("ts_us", expr("ts_nanos div 1000"))
      .withColumn("prev_click_ts", max(when(col("event_type") === "click", col("ts_us"))).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"),
        col("event_id"),
        col("ts_us"),
        col("prev_click_ts"),
        (col("ts_us") - col("prev_click_ts")).as("micros_since_click")
      )
      .orderBy("event_id")
  }

  /** Conversion funnel per user: click → purchase ordering, one
    * aggregation over the per-user event set (conditional min/max —
    * no joins, no window; the cheapest funnel shape).
    */
  val eventsFunnel: Q = (s, d) =>
    events(s, d)
      .withColumn("ts_us", expr("ts_nanos div 1000"))
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "click", col("ts_us"))).as("first_click"),
        max(when(col("event_type") === "purchase", col("ts_us"))).as("last_purchase"),
        count(when(col("event_type") === "click", 1)).as("n_clicks"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchases")
      )
      .agg(
        count(lit(1)).as("n_users"),
        sum(when(col("n_clicks") > 0, 1).otherwise(0)).cast("bigint").as("n_clickers"),
        sum(when(col("n_purchases") > 0, 1).otherwise(0)).cast("bigint").as("n_buyers"),
        sum(
          when(col("first_click").isNotNull && col("last_purchase") > col("first_click"), 1)
            .otherwise(0)
        ).cast("bigint").as("n_converted")
      )

  /** Interval-overlap RANGE join, bucket-decomposed: events against
    * 6-hour windows sliding every 3 hours (each event overlaps up to
    * two windows — a genuine interval join, not a tumbling groupBy).
    *
    * Spark plans a raw `ts BETWEEN w_start AND w_end` join as a
    * nested-loop over events × windows — quadratic and the classic
    * range-join scale-killer. The scalable decomposition: explode each
    * window into the coarse time buckets it covers (≤3 rows per
    * window at bucket = stride), equi-join on the bucket (hash join),
    * then apply the exact range as a residual filter. An event sits in
    * exactly one bucket, and a window covers each bucket at most once,
    * so no pair duplicates and no dedup pass is needed. The window
    * relation is range-metadata-sized (one row per stride across the
    * data's time span), so it broadcasts; the bounds row it derives
    * from is a 2-value aggregate, computed relationally — no driver
    * collect. PlanShapeSpec asserts the join is a BroadcastHashJoin,
    * never a BroadcastNestedLoopJoin.
    */
  val eventsRangeJoin: Q = (s, d) => {
    val strideUs = 10800000000L // 3 h
    val lenUs = 21600000000L // 6 h; len/stride = overlap factor 2
    val e = events(s, d)
      .withColumn("ts_us", expr("ts_nanos div 1000"))
      .select("ts_us", "user_id")
    val bounds = e.agg(min(col("ts_us")).as("t0"), max(col("ts_us")).as("t1"))
    val w = bounds
      .select(
        explode(expr(s"sequence(CAST(0 AS BIGINT), (t1 - t0) div $strideUs)")).as("window_id"),
        col("t0")
      )
      .select(
        col("window_id"),
        (col("t0") + col("window_id") * strideUs).as("w_start"),
        (col("t0") + col("window_id") * strideUs + lenUs).as("w_end")
      )
    val wb = w.withColumn(
      "bucket",
      explode(expr(s"sequence(w_start div $strideUs, (w_end - 1) div $strideUs)"))
    )
    e.withColumn("bucket", expr(s"ts_us div $strideUs"))
      .join(broadcast(wb), Seq("bucket"))
      .filter(col("ts_us") >= col("w_start") && col("ts_us") < col("w_end"))
      .groupBy(col("window_id"), col("w_start"), col("w_end"))
      .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))
      .orderBy("window_id")
  }

  /** Integer-exact hourly ANOMALY flags per event type — the
    * monitoring/alerting shape over a metric stream: an hour is
    * anomalous when its count exceeds the type's mean by 3 population
    * sigmas, tested WITHOUT floats by multiplying the z-test through
    * by H²:  n·H > S  ∧  (n·H − S)² > 9·(H·SS − S²).  The per-type
    * stats relation is type-cardinality-sized (broadcast); the hourly
    * relation shuffles once on (type, hour). BIGINT bounds: exact
    * while n·H < 3·10⁹ (ANSI mode fails loudly beyond; switch the
    * squares to DECIMAL(38,0) at that scale).
    */
  /** Hourly (event_type, hour_bucket, n) counts — shared by the batch
    * anomaly query and the streaming maintenance route (identical
    * expressions, so the two gates pin the same numbers).
    */
  private[graft] def hourlyCounts(ev: DataFrame): DataFrame =
    ev
      .withColumn("hour_bucket", expr("ts_nanos div 1000 div 3600000000"))
      .groupBy(col("event_type"), col("hour_bucket"))
      .agg(count(lit(1)).cast("bigint").as("n"))

  /** The integer 3σ test over an hourly-counts relation — see
    * [[eventsAnomaly]] for the float-free derivation.
    */
  private[graft] def anomalyFromHourly(hourly: DataFrame): DataFrame = {
    val stats = hourly
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).cast("bigint").as("H"),
        sum(col("n")).cast("bigint").as("S"),
        sum(col("n") * col("n")).cast("bigint").as("SS")
      )
    hourly
      .join(broadcast(stats), "event_type")
      .filter(
        col("n") * col("H") > col("S") &&
          (col("n") * col("H") - col("S")) * (col("n") * col("H") - col("S")) >
            lit(9L) * (col("H") * col("SS") - col("S") * col("S"))
      )
      .select(col("event_type"), col("hour_bucket"), col("n"))
      .orderBy("event_type", "hour_bucket")
  }

  val eventsAnomaly: Q = (s, d) => anomalyFromHourly(hourlyCounts(events(s, d)))

  /** Event-type TRANSITION matrix (first-order Markov counts): per
    * user, each event's successor in (ts, event_id) order, aggregated
    * corpus-wide to (from, to, count, within-from share). The
    * behavioral-analytics staple next to sessions/funnels — "what do
    * users do after X". The lead window partitions per user (balanced
    * by construction); the share window runs over the |types|²
    * transition matrix, never events.
    */
  val eventsTransitions: Q = (s, d) => {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    events(s, d)
      .withColumn("ts_us", expr("ts_nanos div 1000"))
      .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).cast("bigint").as("n"))
      .withColumn(
        "from_total",
        sum(col("n")).over(Window.partitionBy(col("event_type")))
      )
      .withColumn("share_micro", expr("n * 1000000 div from_total"))
      .select(
        col("event_type").as("from_type"), col("next_type").as("to_type"),
        col("n"), col("share_micro"))
      .orderBy("from_type", "to_type")
  }

  /** COHORT RETENTION: users grouped by their first-activity day, and
    * for each (cohort day, days-since) how many of them were active —
    * the retention triangle. Activity collapses to distinct (user,
    * day) first (one linear dedup), cohorts are a per-user min, and
    * the triangle aggregate is (days × days)-sized. All integer
    * arithmetic on epoch-day buckets.
    */
  val eventsRetention: Q = (s, d) => {
    val act = events(s, d)
      .withColumn("day", expr("ts_nanos div 1000 div 86400000000"))
      .select(col("user_id"), col("day"))
      .distinct()
    val cohort = act.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    act
      .join(cohort, "user_id")
      .withColumn("day_offset", (col("day") - col("cohort_day")).cast("bigint"))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).cast("bigint").as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Distinct users per hour through the GROUPED linear-counting
    * sketch ([[CorpusStats.linearCountDistinctBy]]) with the exact
    * count riding alongside as the gate — the classic streaming-
    * analytics cardinality question (hourly uniques) answered with a
    * shuffle bounded by |hours|·m pairs however many events arrive.
    */
  val eventsHourlyDistinct: Q = (s, d) => {
    val ev = Fixtures
      .events(s, d)
      .withColumn("hour_bucket", expr("ts_nanos div 1000 div 3600000000"))
      .select(col("hour_bucket"), col("user_id"))
    CorpusStats
      .linearCountDistinctBy(ev, "hour_bucket", "user_id", 4096)
      .select(col("hour_bucket"), col("exact"), col("occupied"), col("est_milli"))
      .orderBy("hour_bucket")
  }

  lazy val registry: Seq[Query] = Seq(
    Query("events_hourly_distinct", eventsHourlyDistinct,
      s"""WITH b AS (
         |  SELECT epoch_us(ts) // 3600000000 AS hour_bucket, user_id,
         |    ${Dedup.hex12ValSql("md5('lc|' || CAST(user_id AS VARCHAR))", 1)} % 4096 AS bucket
         |  FROM events),
         |g AS (
         |  SELECT hour_bucket,
         |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact,
         |    CAST(count(DISTINCT bucket) AS BIGINT) AS occupied
         |  FROM b GROUP BY hour_bucket)
         |SELECT hour_bucket, exact, occupied,
         |  CASE WHEN occupied < 4096 THEN
         |    CAST(floor(-1.0 * 4096 * ln(1.0 - CAST(occupied AS DOUBLE) / 4096) * 1000) AS BIGINT)
         |  ELSE NULL END AS est_milli
         |FROM g ORDER BY hour_bucket""".stripMargin),
    Query("events_transitions", eventsTransitions,
      """WITH t AS (
        |  SELECT user_id, event_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY epoch_us(ts), event_id) AS next_type
        |  FROM events),
        |g AS (
        |  SELECT event_type AS from_type, next_type AS to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM t WHERE next_type IS NOT NULL GROUP BY event_type, next_type),
        |s AS (SELECT *, CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS ft FROM g)
        |SELECT from_type, to_type, n, CAST(n * 1000000 // ft AS BIGINT) AS share_micro
        |FROM s ORDER BY from_type, to_type""".stripMargin),
    Query("events_retention", eventsRetention,
      """WITH act AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM act GROUP BY user_id)
        |SELECT c.cohort_day, CAST(a.day - c.cohort_day AS BIGINT) AS day_offset,
        |  CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
        |FROM act a JOIN c USING (user_id)
        |GROUP BY c.cohort_day, a.day - c.cohort_day
        |ORDER BY cohort_day, day_offset""".stripMargin),
    Query("events_anomaly", eventsAnomaly,
      """WITH h AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_bucket,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS H,
        |    CAST(sum(n) AS BIGINT) AS S, CAST(sum(n * n) AS BIGINT) AS SS
        |  FROM h GROUP BY 1)
        |SELECT h.event_type, h.hour_bucket, h.n
        |FROM h JOIN s USING (event_type)
        |WHERE h.n * s.H > s.S
        |  AND (h.n * s.H - s.S) * (h.n * s.H - s.S) > 9 * (s.H * s.SS - s.S * s.S)
        |ORDER BY h.event_type, h.hour_bucket""".stripMargin),
    Query("events_window_counts", eventsWindowCounts,
      """SELECT epoch_us(ts) // 3600000000 AS hour_bucket, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS total_value,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY hour_bucket, event_type""".stripMargin),
    Query("events_sessions", eventsSessions,
      """WITH t AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_ts
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM t),
        |sessions AS (
        |  SELECT user_id,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM flagged),
        |per_session AS (
        |  SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events
        |  FROM sessions GROUP BY user_id, session_id)
        |SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
        |  max(n_events) AS max_session_events,
        |  CAST(sum(n_events) AS BIGINT) AS n_total_events
        |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("events_json_extract", eventsJsonExtract,
      """SELECT event_type,
        |  CAST(count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n_with_k,
        |  CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
        |  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("events_asof_join", eventsAsofJoin,
      """WITH t AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |    max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click_ts
        |  FROM events)
        |SELECT user_id, event_id, ts_us, prev_click_ts,
        |       ts_us - prev_click_ts AS micros_since_click
        |FROM t WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin),
    // the oracle replays the range join directly (nested loop is fine
    // at oracle scale); the Spark side's bucket decomposition must
    // produce the same pairs
    Query("events_range_join", eventsRangeJoin,
      """WITH e AS (SELECT epoch_us(ts) AS ts_us, user_id FROM events),
        |b AS (SELECT min(ts_us) AS t0, max(ts_us) AS t1 FROM e),
        |w AS (
        |  SELECT CAST(gs AS BIGINT) AS window_id,
        |         t0 + gs * 10800000000 AS w_start,
        |         t0 + gs * 10800000000 + 21600000000 AS w_end
        |  FROM (SELECT t0, unnest(generate_series(0, CAST((t1 - t0) // 10800000000 AS BIGINT))) AS gs
        |        FROM b)),
        |j AS (
        |  SELECT w.window_id, w.w_start, w.w_end, e.ts_us, e.user_id
        |  FROM w JOIN e ON e.ts_us >= w.w_start AND e.ts_us < w.w_end)
        |SELECT window_id, w_start, w_end, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM j GROUP BY 1, 2, 3 ORDER BY window_id""".stripMargin),
    Query("events_funnel", eventsFunnel,
      """WITH per_user AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS first_click,
        |    max(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS last_purchase,
        |    count(CASE WHEN event_type = 'click' THEN 1 END) AS n_clicks,
        |    count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases
        |  FROM events GROUP BY user_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(CASE WHEN n_clicks > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clickers,
        |  CAST(sum(CASE WHEN n_purchases > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_buyers,
        |  CAST(sum(CASE WHEN first_click IS NOT NULL AND last_purchase > first_click
        |            THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
        |FROM per_user""".stripMargin)
  )
}
