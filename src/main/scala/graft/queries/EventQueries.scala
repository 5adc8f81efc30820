package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch event-analytics over the `events` table: sessionization,
  * funnel conversion, and cohort retention — the three queries every
  * behavioral warehouse runs nightly, here as pure declarative plans
  * (the streaming twin of sessionization, with state eviction, is
  * `stream_sessions`).
  *
  * All three share one scale profile: windows partition by `user_id`
  * (per-user frames — no global sort anywhere except the final graded
  * ORDER BY on an already-tiny aggregate), every aggregation is
  * map-side combinable, and all arithmetic is integer microseconds /
  * integer division, so the graded values are bit-exact cross-engine.
  */
object EventQueries {

  private val GapUs = 1800000000L // 30 min session gap

  /** q55_sessionize: gap-based batch sessionization — a new session
    * starts when a user is idle > 30 min; per user, emit session count,
    * the largest session (events) and the longest / total session spans.
    * The session id is the classic prefix-sum of boundary flags over the
    * per-user event order `(ts, event_id)` (event_id unique ⇒ fully
    * deterministic).
    *
    * Scale: one shuffle on user_id (the window), then two
    * map-side-combinable aggregations keyed by (user, session) and user
    * — session COUNT per user is bounded by the user's own event count,
    * never by corpus size. A 100 TB run partitions cleanly: every stage
    * is keyed on user_id.
    */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("boundary",
        when(col("prev_us").isNull || col("us") - col("prev_us") > GapUs, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("boundary")).over(w))
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_ev"),
           (max(col("us")) - min(col("us"))).as("span_us"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
           max(col("n_ev")).as("max_session_events"),
           max(col("span_us")).as("max_session_span_us"),
           sum(col("span_us")).as("total_session_span_us"))
      .orderBy("user_id")
  }

  val sessionizeOracle: String = s"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_id FROM events
),
b AS (
  SELECT user_id, us, event_id,
         CASE WHEN lag(us) OVER w IS NULL
                OR us - lag(us) OVER w > $GapUs THEN 1 ELSE 0 END AS boundary
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
s AS (
  SELECT user_id, us,
         sum(boundary) OVER (PARTITION BY user_id ORDER BY us, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM b
),
per_session AS (
  SELECT user_id, sid, count(*) AS n_ev, max(us) - min(us) AS span_us
  FROM s GROUP BY user_id, sid
)
SELECT user_id, count(*) AS n_sessions,
       max(n_ev) AS max_session_events,
       CAST(max(span_us) AS BIGINT) AS max_session_span_us,
       CAST(sum(span_us) AS BIGINT) AS total_session_span_us
FROM per_session GROUP BY user_id ORDER BY user_id
"""

  /** q56_funnel: ordered three-stage funnel view → click → purchase —
    * a user converts a stage only AT OR AFTER completing the previous
    * one (first-touch semantics: the earliest qualifying event per
    * stage). Emitted as one row of stage populations plus integer-ppm
    * conversion rates.
    *
    * Scale: three keyed aggregations, each a map-side-combinable
    * `min`, chained by broadcast-sized per-user stage tables (one row
    * per converting user — ≤ |users|, orders of magnitude under the
    * event volume; the join key is user_id so a non-broadcast fallback
    * shuffles once on the same key). No windows, no sorts.
    */
  def funnel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    // Each stage table is checkpointed before its count so the guard
    // reads cached blocks and the join never recomputes the aggregate.
    val s1 = ev.where(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("us")).as("t1")).localCheckpoint()
    val s2 = ev.where(col("event_type") === "click")
      .join(Hints.maybeBroadcast(s1, s1.count()), "user_id")
      .where(col("us") >= col("t1"))
      .groupBy("user_id").agg(min(col("us")).as("t2")).localCheckpoint()
    val s3 = ev.where(col("event_type") === "purchase")
      .join(Hints.maybeBroadcast(s2, s2.count()), "user_id")
      .where(col("us") >= col("t2"))
      .groupBy("user_id").agg(min(col("us")).as("t3"))
    s1.agg(count(lit(1)).as("n_view"))
      .crossJoin(s2.agg(count(lit(1)).as("n_click_after_view")))
      .crossJoin(s3.agg(count(lit(1)).as("n_purchase_after_click")))
      .select(col("n_view"), col("n_click_after_view"),
        col("n_purchase_after_click"),
        expr("(n_click_after_view * 1000000) div n_view").as("conv1_ppm"),
        expr("(n_purchase_after_click * 1000000) div n_click_after_view")
          .as("conv2_ppm"))
  }

  val funnelOracle: String = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
),
s1 AS (
  SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1
),
s2 AS (
  SELECT e.user_id, min(us) AS t2
  FROM e JOIN s1 USING (user_id)
  WHERE event_type = 'click' AND us >= t1 GROUP BY 1
),
s3 AS (
  SELECT e.user_id, min(us) AS t3
  FROM e JOIN s2 USING (user_id)
  WHERE event_type = 'purchase' AND us >= t2 GROUP BY 1
)
SELECT (SELECT count(*) FROM s1) AS n_view,
       (SELECT count(*) FROM s2) AS n_click_after_view,
       (SELECT count(*) FROM s3) AS n_purchase_after_click,
       CAST(((SELECT count(*) FROM s2) * 1000000)
            // (SELECT count(*) FROM s1) AS BIGINT) AS conv1_ppm,
       CAST(((SELECT count(*) FROM s3) * 1000000)
            // (SELECT count(*) FROM s2) AS BIGINT) AS conv2_ppm
"""

  /** q57_retention: day-cohort retention triangle — users are cohorted
    * by their FIRST active day; each (cohort_day, offset_day) cell
    * counts cohort members active that many days later. The activation/
    * retention curve every growth dashboard carries, and the
    * degenerate-but-graded diagonal (offset 0 = cohort size) pins the
    * cohort assignment itself. Days are integer epoch-day indices
    * (`us // 86400000000` — UTC-pinned, identical on both engines).
    *
    * Scale: output is bounded by the CALENDAR squared (≤ days²/2
    * cells), never by users or events: one (user, day) distinct, one
    * per-user min — both keyed on user_id — and one count keyed by the
    * bounded (cohort, offset) pair.
    */
  def retention(spark: SparkSession, sfDir: String): DataFrame = {
    val days = Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
      .localCheckpoint() // both the cohort agg and the join read it
    val cohort = days.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
      .localCheckpoint()
    days.join(Hints.maybeBroadcast(cohort, cohort.count()), "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("offset_day"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "offset_day")
  }

  val retentionOracle: String = """
WITH days AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
),
cohort AS (
  SELECT user_id, min(day) AS cohort_day FROM days GROUP BY 1
)
SELECT cohort_day, day - cohort_day AS offset_day, count(*) AS n_users
FROM days JOIN cohort USING (user_id)
GROUP BY 1, 2 ORDER BY cohort_day, offset_day
"""

  /** q58_islands: gaps-and-islands — each user's active DAYS merged
    * into maximal contiguous runs (the `day − row_number()` grouping
    * identity: consecutive days share a constant difference), graded as
    * the global streak-length histogram plus how many distinct users
    * attain each length. Streak analytics is the canonical
    * "islands" query; the same identity rebuilds validity intervals in
    * q33_scd2 and merges session spans anywhere a gap threshold is 1
    * unit.
    *
    * Scale: the (user, day) distinct and the per-user window both key
    * on user_id — one shuffle; islands per user ≤ that user's active
    * days; the final histogram is bounded by the CALENDAR (a streak
    * cannot be longer than the day span). Nothing global except the
    * few-row result sort.
    */
  def islands(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day")
    Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("len"))
      .groupBy("len")
      .agg(count(lit(1)).as("n_islands"),
           countDistinct(col("user_id")).as("n_users"))
      .orderBy("len")
  }

  val islandsOracle: String = """
WITH days AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
),
grp AS (
  SELECT user_id,
         day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
  FROM days
),
islands AS (
  SELECT user_id, grp, count(*) AS len FROM grp GROUP BY 1, 2
)
SELECT len, count(*) AS n_islands, count(DISTINCT user_id) AS n_users
FROM islands GROUP BY len ORDER BY len
"""

  /** q59_ewma: exponentially weighted moving average of the daily
    * event-value series with decay ½ over a 20-day horizon, in EXACT
    * integer arithmetic: the graded value is the weighted moving SUM
    * `Σ_{k=0..19} v(d−k) · 2^(19−k)` (fixed-point EWMA numerator —
    * dividing by 2²⁰−1 would leave the rationals; both engines carry
    * the integer). Missing days contribute zero, exactly as a decayed
    * accumulator would see them.
    *
    * Scale: the 20-term lookback is EXPANDED to an equi-join — each
    * daily row is exploded to the 20 future days it contributes to and
    * summed by target day — rather than a range join (which Spark
    * plans as a nested-loop). Everything is calendar-bounded: days ≤
    * span, the explode is ×20, the join key is the day. At 100 TB the
    * only corpus-sized stage is the first daily rollup, map-side
    * combinable on (day).
    */
  def ewma(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        floor(col("value") * lit(1000000.0) + lit(0.5)).cast("bigint").as("v"))
      .groupBy("day").agg(sum(col("v")).as("v"))
      .localCheckpoint() // both the contribution explode and the
                         // observed-day filter read it
    val contrib = daily
      .select(col("day"), col("v"),
        explode(sequence(lit(0), lit(19))).as("k"))
      .select((col("day") + col("k")).as("day"),
        (col("v") * expr("shiftleft(1L, 19 - k)")).as("wv"))
      .groupBy("day").agg(sum(col("wv")).as("ewma_fp"))
    daily.select(col("day"), col("v").as("day_value_us"))
      .join(contrib, "day") // emit only OBSERVED days
      .orderBy("day")
  }

  val ewmaOracle: String = """
WITH daily AS (
  SELECT epoch_us(ts) // 86400000000 AS day,
         sum(cast(floor(value * 1000000.0 + 0.5) AS bigint)) AS v
  FROM events GROUP BY 1
),
contrib AS (
  SELECT daily.day + k.k AS day, v * (1::BIGINT << (19 - k.k)) AS wv
  FROM daily, (SELECT unnest(range(0, 20)) AS k) k
),
e AS (SELECT day, sum(wv) AS ewma_fp FROM contrib GROUP BY 1)
SELECT daily.day AS day, CAST(daily.v AS BIGINT) AS day_value_us,
       CAST(e.ewma_fp AS BIGINT) AS ewma_fp
FROM daily JOIN e ON e.day = daily.day
ORDER BY daily.day
"""

  /** q69_ohlc: time-series candles — per day, the Open/High/Low/Close
    * of the event `value` stream (integer cents), the downsampled bar
    * representation every monitoring/finance dashboard draws. Open and
    * close are first/last in the total `(ts, event_id)` order via
    * full-frame `first/last_value` window functions; high/low/volume
    * are plain combinable aggregates. The window total order makes the
    * bars deterministic under any parallelism.
    *
    * Scale: one shuffle keyed by day (window partition = the
    * aggregation key), output bounded by the calendar. At 100 TB the
    * open/close would ride `min/max_by`-style struct aggregates to stay
    * fully map-side combinable; the window form is graded because it
    * pins the frame semantics (`ROWS BETWEEN UNBOUNDED PRECEDING AND
    * UNBOUNDED FOLLOWING`) both engines share.
    */
  def ohlc(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("day").orderBy("us", "event_id")
    val full = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        floor(col("value") * 100 + lit(0.5)).cast("bigint").as("cents"))
      .withColumn("open_cents", first(col("cents")).over(full))
      .withColumn("close_cents", last(col("cents")).over(full))
      .groupBy("day")
      .agg(max(col("open_cents")).as("open_cents"),
           max(col("cents")).as("high_cents"),
           min(col("cents")).as("low_cents"),
           max(col("close_cents")).as("close_cents"),
           count(lit(1)).as("n_events"),
           sum(col("cents")).as("volume_cents"))
      .orderBy("day")
  }

  val ohlcOracle: String = """
WITH e AS (
  SELECT epoch_us(ts) // 86400000000 AS day, epoch_us(ts) AS us,
         event_id, cast(floor(value * 100 + 0.5) AS bigint) AS cents
  FROM events
),
f AS (
  SELECT day, cents,
         first_value(cents) OVER w AS open_cents,
         last_value(cents) OVER w AS close_cents
  FROM e
  WINDOW w AS (PARTITION BY day ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT day, max(open_cents) AS open_cents,
       CAST(max(cents) AS BIGINT) AS high_cents,
       CAST(min(cents) AS BIGINT) AS low_cents,
       max(close_cents) AS close_cents,
       count(*) AS n_events,
       CAST(sum(cents) AS BIGINT) AS volume_cents
FROM f GROUP BY day ORDER BY day
"""

  /** q72_user_paths: top user journeys — each user's first three
    * events, ordered by the (ts, event_id) total order, concatenated
    * into a path string ("signup>view>click") and counted across the
    * population. The sequence-mining complement of the Markov
    * transition matrix (stats_markov_transitions): that one is
    * memoryless pairs, this one is actual ordered prefixes. The
    * per-user ordering rides `sort_array(collect_list(struct(rn, …)))`
    * — deterministic under any parallelism, no order-dependent
    * collect_list assumption.
    *
    * Scale: one window + one aggregation, both keyed by user_id; the
    * path rollup is bounded by |event_types|³.
    */
  def userPaths(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .groupBy("user_id")
      .agg(array_join(expr(
        "transform(sort_array(collect_list(struct(rn, event_type)))," +
        " x -> x.event_type)"), ">").as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(10)
  }

  val userPathsOracle: String = """
WITH e AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
),
p AS (
  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
  FROM e WHERE rn <= 3 GROUP BY user_id
)
SELECT path, count(*) AS n_users
FROM p GROUP BY 1 ORDER BY n_users DESC, path LIMIT 10
"""

  val all: Seq[Query] = Seq(
    Query("q72_user_paths", userPaths, userPathsOracle),
    Query("q69_ohlc", ohlc, ohlcOracle),
    Query("q55_sessionize", sessionize, sessionizeOracle),
    Query("q56_funnel", funnel, funnelOracle),
    Query("q57_retention", retention, retentionOracle),
    Query("q58_islands", islands, islandsOracle),
    Query("q59_ewma", ewma, ewmaOracle),
  )
}
