package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical profiling and behavioral analytics — the descriptive-
  * statistics pass a data audit runs over a fact table, plus the
  * event-sequence analyses (funnel, retention, SCD2 history) every
  * product-analytics workload needs.
  *
  * Exactness discipline at the hash gate: floating-point aggregates
  * are NOT directly comparable across engines (parallel summation
  * reorders rounding), so every graded number here is derived from
  * EXACT integer/decimal moments (values scaled to integer cents with
  * `floor(x*100 + 0.5)` — floor of the same double is deterministic
  * cross-engine, unlike round()'s half-case conventions). Doubles
  * appear only in (a) the final `corr_micros` projection, computed
  * from the exact moments with an identical arithmetic-expression tree
  * on both engines — IEEE 754 ops are correctly rounded, so identical
  * inputs + identical op order = identical bits; and (b) accuracy-gate
  * booleans that pin each engine's own built-in corr/stddev to the
  * moment formula (the `sketch_hll_gate` grading pattern).
  *
  * Scale: everything is a single hash aggregation (map-side partial)
  * or a keyed window — no self-joins, no cross joins; the funnel's
  * per-stage joins are on user_id (the natural shuffle key) and each
  * stage strictly shrinks the left side.
  */
object StatsQueries {

  /** Integer cents: deterministic on both engines (see scaladoc). */
  private def cents(c: Column): Column =
    floor(c * lit(100) + lit(0.5)).cast("bigint")

  /** q29: exact second-order moments of (quantity, extendedprice) per
    * return flag, Pearson correlation in fixed-point micros derived
    * from them, and a gate asserting the engine's own `corr` /
    * `stddev_samp` built-ins agree with the moment formula to 1e-6
    * (relative for stddev). Moments use decimal(38,0) sums — exact and
    * order-independent under parallel aggregation, which is what makes
    * the hash gate on a "statistics" query possible at all.
    */
  def statsMoments(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"),
              cents(col("l_quantity")).as("qc"),
              cents(col("l_extendedprice")).as("pc"))
    val mom = li.groupBy("l_returnflag").agg(
      count(lit(1)).as("n"),
      sum(col("qc")).as("sx"),
      sum(col("pc")).as("sy"),
      sum(col("qc").cast("decimal(18,0)") * col("qc").cast("decimal(18,0)"))
        .cast("decimal(38,0)").as("sxx"),
      sum(col("pc").cast("decimal(18,0)") * col("pc").cast("decimal(18,0)"))
        .cast("decimal(38,0)").as("syy"),
      sum(col("qc").cast("decimal(18,0)") * col("pc").cast("decimal(18,0)"))
        .cast("decimal(38,0)").as("sxy"),
      corr(col("qc").cast("double"), col("pc").cast("double")).as("corr_b"),
      stddev_samp(col("pc").cast("double")).as("sd_b"))
    // Identical expression text to the oracle: moments → double → corr.
    val corrD = "(cast(n as double) * cast(sxy as double) - " +
      "cast(sx as double) * cast(sy as double)) / " +
      "sqrt((cast(n as double) * cast(sxx as double) - " +
      "cast(sx as double) * cast(sx as double)) * " +
      "(cast(n as double) * cast(syy as double) - " +
      "cast(sy as double) * cast(sy as double)))"
    val sdD = "sqrt((cast(n as double) * cast(syy as double) - " +
      "cast(sy as double) * cast(sy as double)) / " +
      "(cast(n as double) * (cast(n as double) - 1.0)))"
    // The big moments leave as doubles: the decimal sums are exact and
    // order-independent INTERNALLY; the final decimal→double cast is
    // IEEE nearest — deterministic and identical cross-engine (int64
    // can overflow for sum(pc²) beyond ~sf0.1, and decimal38 output
    // types diverge between engines' parquet/pandas bridges).
    mom.select(col("l_returnflag"), col("n"), col("sx"), col("sy"),
        col("sxx").cast("double").as("sxx"),
        col("syy").cast("double").as("syy"),
        col("sxy").cast("double").as("sxy"),
        expr(s"cast(floor(1000000.0 * ($corrD)) as bigint)").as("corr_micros"),
        // 1e-6 (corr is bounded by 1, so absolute ≈ relative): the
        // built-ins' parallel summation error is partitioning-dependent,
        // and a 1e-9 band could flip on one engine only at larger
        // scales — 1e-6 still pins the built-ins to the exact moments.
        expr(s"abs(corr_b - ($corrD)) < 1e-6 and " +
             s"abs(sd_b - ($sdD)) < 1e-6 * abs($sdD)").as("builtin_stats_ok"))
      .orderBy("l_returnflag")
  }

  val statsMomentsOracle: String = """
WITH c AS (
  SELECT l_returnflag,
         cast(floor(l_quantity * 100 + 0.5) AS bigint) AS qc,
         cast(floor(l_extendedprice * 100 + 0.5) AS bigint) AS pc
  FROM lineitem
),
mom AS (
  SELECT l_returnflag, count(*) AS n,
         cast(sum(qc) AS bigint) AS sx, cast(sum(pc) AS bigint) AS sy,
         cast(cast(sum(qc::hugeint * qc) AS decimal(38,0)) AS double) AS sxx,
         cast(cast(sum(pc::hugeint * pc) AS decimal(38,0)) AS double) AS syy,
         cast(cast(sum(qc::hugeint * pc) AS decimal(38,0)) AS double) AS sxy,
         corr(qc::double, pc::double) AS corr_b,
         stddev_samp(pc::double) AS sd_b
  FROM c GROUP BY l_returnflag
)
SELECT l_returnflag, n, sx, sy, sxx, syy, sxy,
       cast(floor(1000000.0 * ((cast(n AS double) * cast(sxy AS double) -
         cast(sx AS double) * cast(sy AS double)) /
         sqrt((cast(n AS double) * cast(sxx AS double) -
           cast(sx AS double) * cast(sx AS double)) *
          (cast(n AS double) * cast(syy AS double) -
           cast(sy AS double) * cast(sy AS double))))) AS bigint)
         AS corr_micros,
       (abs(corr_b - ((cast(n AS double) * cast(sxy AS double) -
         cast(sx AS double) * cast(sy AS double)) /
         sqrt((cast(n AS double) * cast(sxx AS double) -
           cast(sx AS double) * cast(sx AS double)) *
          (cast(n AS double) * cast(syy AS double) -
           cast(sy AS double) * cast(sy AS double))))) < 1e-6
        AND abs(sd_b - (sqrt((cast(n AS double) * cast(syy AS double) -
           cast(sy AS double) * cast(sy AS double)) /
          (cast(n AS double) * (cast(n AS double) - 1.0))))) < 1e-6 *
          abs(sqrt((cast(n AS double) * cast(syy AS double) -
           cast(sy AS double) * cast(sy AS double)) /
          (cast(n AS double) * (cast(n AS double) - 1.0)))))
         AS builtin_stats_ok
FROM mom ORDER BY l_returnflag
"""

  /** q30: equi-width histogram of order totals — 25 buckets over a
    * fixed [1000, 500000) band in integer cents, out-of-band rows
    * clamped into the edge buckets. Pure integer arithmetic: the
    * bucket id survives any engine's division convention because
    * negatives are clamped after the divide. One aggregation; the
    * 100 TB shape for data profiling (no sort, no window).
    */
  def histEquiWidth(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(cents(col("o_totalprice")).as("pc"))
      .select(greatest(lit(0L), least(lit(24L),
          expr("(pc - 100000) div 1996000"))).as("bucket"), col("pc"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), min(col("pc")).as("min_cents"),
           max(col("pc")).as("max_cents"))
      .orderBy("bucket")

  val histEquiWidthOracle: String = """
WITH c AS (
  SELECT cast(floor(o_totalprice * 100 + 0.5) AS bigint) AS pc FROM orders
)
SELECT greatest(0, least(24, (pc - 100000) // 1996000)) AS bucket,
       count(*) AS n, min(pc) AS min_cents, max(pc) AS max_cents
FROM c GROUP BY 1 ORDER BY bucket
"""

  /** q31: strictly-ordered conversion funnel view → click → purchase.
    * Each stage joins the previous stage's per-user timestamp and
    * keeps only events strictly after it, so the count is of users who
    * performed the steps IN ORDER (not merely all three ever). Stage
    * frames shrink monotonically; all joins are equi-joins on user_id.
    */
  def funnel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.where(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t_view"))
    val c = ev.where(col("event_type") === "click")
      .join(v, "user_id").where(col("ts") > col("t_view"))
      .groupBy("user_id").agg(min(col("ts")).as("t_click"))
    val p = ev.where(col("event_type") === "purchase")
      .join(c, "user_id").where(col("ts") > col("t_click"))
      .groupBy("user_id").agg(min(col("ts")).as("t_buy"))
    v.join(c.select(col("user_id"), col("t_click")), Seq("user_id"), "left")
      .join(p.select(col("user_id"), col("t_buy")), Seq("user_id"), "left")
      .agg(count(col("t_view")).as("n_view"),
           count(col("t_click")).as("n_view_click"),
           count(col("t_buy")).as("n_view_click_purchase"))
  }

  val funnelOracle: String = """
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t_buy
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id
)
SELECT count(v.t_view) AS n_view, count(c.t_click) AS n_view_click,
       count(p.t_buy) AS n_view_click_purchase
FROM v LEFT JOIN c ON c.user_id = v.user_id
       LEFT JOIN p ON p.user_id = v.user_id
"""

  /** q32: cohort retention — users active again k days after their
    * first-ever event, k = 0..14, pooled across cohorts. Two hash
    * aggregations and one equi-join on user_id; `countDistinct` rides
    * Spark's expand-based distinct aggregate.
    */
  def retention(spark: SparkSession, sfDir: String): DataFrame = {
    val days = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val first = days.groupBy("user_id").agg(min(col("d")).as("d0"))
    days.join(first, "user_id")
      .select(col("user_id"), datediff(col("d"), col("d0")).cast("bigint")
        .as("day_offset"))
      .where(col("day_offset").between(0, 14))
      .groupBy("day_offset")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("day_offset")
  }

  val retentionOracle: String = """
WITH days AS (
  SELECT DISTINCT user_id, ts::date AS d FROM events
),
first AS (
  SELECT user_id, min(d) AS d0 FROM days GROUP BY user_id
)
SELECT cast(days.d - f.d0 AS bigint) AS day_offset,
       count(DISTINCT days.user_id) AS n_users
FROM days JOIN first f ON f.user_id = days.user_id
WHERE days.d - f.d0 BETWEEN 0 AND 14
GROUP BY 1 ORDER BY day_offset
"""

  /** q33: SCD2 (slowly-changing-dimension type 2) history rebuild —
    * each user's event stream becomes versioned validity intervals
    * [valid_from, valid_to) with `lead` over a TOTAL order
    * (ts, event_id); the open tail gets a 9999-12-31 sentinel instead
    * of NULL (the warehouse convention, and it keeps the gate free of
    * null-sort ambiguity). Sampled to user_id % 97 == 0 to bound the
    * graded output; the window shuffles by user_id only.
    */
  def scd2(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    Tables.events(spark, sfDir)
      .where(col("user_id") % 97 === 0)
      .select(col("user_id"), col("event_id"), col("event_type"),
              unix_micros(col("ts")).as("ts_us"))
      .select(col("user_id"), col("event_type"),
              row_number().over(w).as("version"),
              col("ts_us").as("valid_from_us"),
              coalesce(lead(col("ts_us"), 1).over(w),
                       lit(253402300799000000L)).as("valid_to_us"))
      .orderBy("user_id", "version")
  }

  val scd2Oracle: String = """
WITH s AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
  FROM events WHERE user_id % 97 = 0
)
SELECT user_id, event_type,
       row_number() OVER w AS version,
       ts_us AS valid_from_us,
       coalesce(lead(ts_us, 1) OVER w, 253402300799000000) AS valid_to_us
FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
ORDER BY user_id, version
"""

  /** Single-pass column profile of `orders` — the audit every new
    * 100 TB table gets before anything joins it: per column, nulls,
    * exact distincts, min/max, emitted LONG (one row per column) so
    * the profile of a 300-column table reads as a table. ONE
    * aggregation pass computes every metric (Spark plans the distinct
    * aggregates with one Expand); values are canonicalized to strings
    * (numerics via integer cents, timestamps via epoch days) so one
    * schema carries every column type. min/max are over the canonical
    * STRING encoding — binary-collation lexicographic on both engines,
    * so deterministic; a per-type numeric min would need one schema
    * per type family.
    */
  def profile(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val canon: Map[String, Column] = Map(
      "o_orderkey" -> col("o_orderkey").cast("string"),
      "o_custkey" -> col("o_custkey").cast("string"),
      "o_orderstatus" -> col("o_orderstatus"),
      "o_totalprice" -> cents(col("o_totalprice")).cast("string"),
      "o_orderdate" -> datediff(to_date(col("o_orderdate")),
        to_date(lit("1970-01-01"))).cast("string"),
      "o_orderpriority" -> col("o_orderpriority"))
    val cols = canon.keys.toSeq.sorted
    val aggs = cols.flatMap { c =>
      val v = canon(c)
      Seq(count(lit(1)).as(s"n__$c"),
          count(v).as(s"nn__$c"),
          countDistinct(v).as(s"nd__$c"),
          min(v).as(s"min__$c"),
          max(v).as(s"max__$c"))
    }
    val wide = o.agg(aggs.head, aggs.tail: _*)
    val perCol = cols.map { c =>
      struct(lit(c).as("column"),
        col(s"n__$c").as("n_rows"),
        (col(s"n__$c") - col(s"nn__$c")).as("n_nulls"),
        col(s"nd__$c").as("n_distinct"),
        col(s"min__$c").as("min_str"),
        col(s"max__$c").as("max_str"))
    }
    wide.select(explode(array(perCol: _*)).as("p")).select(col("p.*"))
      .orderBy("column")
  }

  val profileOracle: String = """
WITH c AS (
  SELECT o_orderkey::varchar AS o_orderkey,
         o_custkey::varchar AS o_custkey,
         o_orderstatus,
         (cast(floor(o_totalprice * 100 + 0.5) AS bigint))::varchar
           AS o_totalprice,
         (cast(o_orderdate::date - DATE '1970-01-01' AS bigint))::varchar
           AS o_orderdate,
         o_orderpriority
  FROM orders
)
SELECT t.column,
       (SELECT count(*) FROM c) AS n_rows,
       CASE t.column
         WHEN 'o_custkey' THEN (SELECT count(*) - count(o_custkey) FROM c)
         WHEN 'o_orderdate' THEN (SELECT count(*) - count(o_orderdate) FROM c)
         WHEN 'o_orderkey' THEN (SELECT count(*) - count(o_orderkey) FROM c)
         WHEN 'o_orderpriority' THEN (SELECT count(*) - count(o_orderpriority) FROM c)
         WHEN 'o_orderstatus' THEN (SELECT count(*) - count(o_orderstatus) FROM c)
         ELSE (SELECT count(*) - count(o_totalprice) FROM c) END AS n_nulls,
       CASE t.column
         WHEN 'o_custkey' THEN (SELECT count(DISTINCT o_custkey) FROM c)
         WHEN 'o_orderdate' THEN (SELECT count(DISTINCT o_orderdate) FROM c)
         WHEN 'o_orderkey' THEN (SELECT count(DISTINCT o_orderkey) FROM c)
         WHEN 'o_orderpriority' THEN (SELECT count(DISTINCT o_orderpriority) FROM c)
         WHEN 'o_orderstatus' THEN (SELECT count(DISTINCT o_orderstatus) FROM c)
         ELSE (SELECT count(DISTINCT o_totalprice) FROM c) END AS n_distinct,
       CASE t.column
         WHEN 'o_custkey' THEN (SELECT min(o_custkey) FROM c)
         WHEN 'o_orderdate' THEN (SELECT min(o_orderdate) FROM c)
         WHEN 'o_orderkey' THEN (SELECT min(o_orderkey) FROM c)
         WHEN 'o_orderpriority' THEN (SELECT min(o_orderpriority) FROM c)
         WHEN 'o_orderstatus' THEN (SELECT min(o_orderstatus) FROM c)
         ELSE (SELECT min(o_totalprice) FROM c) END AS min_str,
       CASE t.column
         WHEN 'o_custkey' THEN (SELECT max(o_custkey) FROM c)
         WHEN 'o_orderdate' THEN (SELECT max(o_orderdate) FROM c)
         WHEN 'o_orderkey' THEN (SELECT max(o_orderkey) FROM c)
         WHEN 'o_orderpriority' THEN (SELECT max(o_orderpriority) FROM c)
         WHEN 'o_orderstatus' THEN (SELECT max(o_orderstatus) FROM c)
         ELSE (SELECT max(o_totalprice) FROM c) END AS max_str
FROM (SELECT unnest(['o_custkey', 'o_orderdate', 'o_orderkey',
                     'o_orderpriority', 'o_orderstatus', 'o_totalprice'])
        AS column) t
ORDER BY t.column
"""

  /** q45: z-score anomaly counts over `events.value` — the streaming-
    * telemetry outlier audit, gated exactly despite arbitrary doubles:
    * values quantize to integer micros (`floor(v·10⁶ + 0.5)` — same
    * double, same floor, both engines), the per-type mean/σ come from
    * exact integer moments, and the 3σ comparison is cross-multiplied
    * so no derived double is ever compared: (10⁶·n·|v−μ|)² > (3σ)²
    * becomes `(n·v − Σv)² > 9·(n·Σv² − Σv²... )·n` — all in decimal.
    * Concretely: |n·v − s| compared against 9·n·(n·q − s²) via squares,
    * s = Σmicros, q = Σmicros².
    */
  def anomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"),
        floor(col("value") * lit(1000000.0) + lit(0.5)).cast("bigint").as("m"))
    val mom = ev.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(col("m")).as("s"),
      sum(col("m").cast("decimal(18,0)") * col("m").cast("decimal(18,0)"))
        .cast("decimal(38,0)").as("q"))
    // outlier ⇔ (n·m − s)² · n > 9 · n² · (n·q − s²) / n  — clear the
    // denominators: (n·m − s)² > 9 · (n·q − s²)  [population variance ×n²]
    ev.join(broadcast(mom), "event_type")
      .select(col("event_type"), col("n"), col("m"), col("s"), col("q"))
      .withColumn("lhs",
        (col("n").cast("decimal(38,0)") * col("m") - col("s"))
          * (col("n").cast("decimal(38,0)") * col("m") - col("s")))
      .withColumn("rhs",
        lit(9).cast("decimal(38,0)") *
          (col("n").cast("decimal(38,0)") * col("q")
            - col("s").cast("decimal(38,0)") * col("s")))
      .groupBy("event_type")
      .agg(max(col("n")).as("n"),
           sum(when(col("lhs") > col("rhs"), 1L).otherwise(0L))
             .as("n_outliers_3sigma"))
      .orderBy("event_type")
  }

  val anomalyOracle: String = """
WITH ev AS (
  SELECT event_type,
         cast(floor(value * 1000000.0 + 0.5) AS bigint) AS m
  FROM events
),
mom AS (
  SELECT event_type, count(*) AS n,
         cast(sum(m) AS hugeint) AS s,
         cast(sum(m::hugeint * m) AS hugeint) AS q
  FROM ev GROUP BY event_type
)
SELECT e.event_type, max(mm.n) AS n,
       cast(sum(CASE WHEN (mm.n * e.m - mm.s) * (mm.n * e.m - mm.s)
                          > 9 * (mm.n * mm.q - mm.s * mm.s)
                     THEN 1 ELSE 0 END) AS bigint) AS n_outliers_3sigma
FROM ev e JOIN mom mm ON mm.event_type = e.event_type
GROUP BY e.event_type ORDER BY e.event_type
"""

  /** q50: robust statistics — per-priority median and MAD (median
    * absolute deviation), the outlier-resistant (median, MAD) pair
    * that replaces (mean, σ) when the data has heavy tails (q45 is the
    * parametric z-score twin). Two exact `percentile` passes with the
    * group median broadcast back between them; emitted at 2 decimals —
    * the interpolation-parity contract q18 already pins between
    * Spark's percentile() and DuckDB's quantile_cont.
    */
  def madRobust(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"), col("o_totalprice"))
    val med = o.groupBy("o_orderpriority")
      .agg(expr("percentile(o_totalprice, 0.5)").as("med"))
    o.join(broadcast(med), "o_orderpriority")
      .select(col("o_orderpriority"), col("med"),
        abs(col("o_totalprice") - col("med")).as("dev"))
      .groupBy("o_orderpriority")
      .agg(round(max(col("med")), 2).as("median_price"),
           round(expr("percentile(dev, 0.5)"), 2).as("mad"),
           count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  val madRobustOracle: String = """
WITH med AS (
  SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS med
  FROM orders GROUP BY o_orderpriority
)
SELECT o.o_orderpriority,
       round(max(m.med), 2) AS median_price,
       round(quantile_cont(abs(o.o_totalprice - m.med), 0.5), 2) AS mad,
       count(*) AS n
FROM orders o JOIN med m ON m.o_orderpriority = o.o_orderpriority
GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
"""

  /** stats_winsorized: winsorized mean per order priority — the
    * outlier-robust center a revenue report uses when a few whale
    * orders would otherwise drag the arithmetic mean (the robust-stats
    * companion to q50's median/MAD). Unlike q50 (which rides
    * interpolated percentiles and rounds), the clamp bounds here are
    * EXACT ORDER STATISTICS picked by integer rank arithmetic —
    * `r_lo = ⌈n/20⌉`, `r_hi = ⌈19n/20⌉` (the 5th/95th percentile
    * positions) — so every graded value is pure integer cents: no
    * interpolation, no float boundary, no rounding convention to
    * disagree on.
    *
    * Scale: one ranked window per group (shuffle on the group key),
    * one ≤|groups|-row bound table broadcast back, one aggregation.
    */
  def winsorized(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority").as("g"), cents(col("o_totalprice")).as("c"),
        col("o_orderkey"))
    val grp = Window.partitionBy("g")
    val ranked = o
      .withColumn("rn", row_number().over(
        grp.orderBy(col("c"), col("o_orderkey"))).cast("long"))
      .withColumn("n", count(lit(1)).over(grp))
    val bounds = ranked
      .groupBy("g")
      .agg(max(col("n")).as("n"),
        max(when(col("rn") === expr("(n + 19) div 20"), col("c"))).as("lo"),
        max(when(col("rn") === expr("(19 * n + 19) div 20"), col("c"))).as("hi"))
    o.join(broadcast(bounds), "g")
      .groupBy("g")
      .agg(max(col("n")).as("n"),
        max(col("lo")).as("lo_cents"),
        max(col("hi")).as("hi_cents"),
        sum(greatest(col("lo"), least(col("hi"), col("c")))).as("wsum"),
        sum(col("c")).as("rsum"))
      .select(col("g").as("o_orderpriority"), col("n"),
        col("lo_cents"), col("hi_cents"),
        expr("wsum div n").as("wins_mean_cents"),
        expr("rsum div n").as("raw_mean_cents"))
      .orderBy("o_orderpriority")
  }

  val winsorizedOracle: String = """
WITH o AS (
  SELECT o_orderpriority AS g,
         cast(floor(o_totalprice * 100 + 0.5) AS bigint) AS c,
         o_orderkey
  FROM orders
),
ranked AS (
  SELECT g, c,
         row_number() OVER (PARTITION BY g ORDER BY c, o_orderkey) AS rn,
         count(*) OVER (PARTITION BY g) AS n
  FROM o
),
bounds AS (
  SELECT g, max(n) AS n,
         max(CASE WHEN rn = (n + 19) // 20 THEN c END) AS lo,
         max(CASE WHEN rn = (19 * n + 19) // 20 THEN c END) AS hi
  FROM ranked GROUP BY g
)
SELECT o.g AS o_orderpriority, max(b.n) AS n,
       max(b.lo) AS lo_cents, max(b.hi) AS hi_cents,
       CAST(sum(greatest(b.lo, least(b.hi, o.c))) // max(b.n) AS BIGINT) AS wins_mean_cents,
       CAST(sum(o.c) // max(b.n) AS BIGINT) AS raw_mean_cents
FROM o JOIN bounds b ON b.g = o.g
GROUP BY o.g ORDER BY o_orderpriority
"""

  /** stats_markov: first-order Markov transition matrix over each
    * user's event sequence — the behavioral-model building block
    * (session simulation, anomaly scoring, next-event prediction all
    * start from this table). Per user, events are ordered by
    * `(ts, event_id)` (event_id is unique, so the order — and hence
    * `lead` — is fully deterministic); consecutive pairs are counted
    * globally per (from, to) and the row-conditional probability
    * P(to | from) is emitted in fixed-point micros via INTEGER
    * division (`div` / `//`), exact on both engines.
    *
    * Scale: one keyed window (shuffle on user_id — the natural event
    * partitioning) + one map-side-combinable count on a
    * |types|²-bounded key space; the per-from totals ride a window
    * over that tiny aggregate, not the events.
    */
  def markovTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val seq = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = ev
      .withColumn("to_type", lead(col("event_type"), 1).over(seq))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    trans
      .withColumn("row_total",
        sum(col("n")).over(Window.partitionBy("from_type")))
      .withColumn("p_micros", expr("(n * 1000000) div row_total"))
      .select("from_type", "to_type", "n", "p_micros")
      .orderBy("from_type", "to_type")
  }

  val markovTransitionsOracle: String = """
WITH p AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_type
  FROM events
),
t AS (
  SELECT from_type, to_type, count(*) AS n
  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       CAST((n * 1000000) // sum(n) OVER (PARTITION BY from_type) AS BIGINT)
         AS p_micros
FROM t ORDER BY from_type, to_type
"""

  /** stats_chi2: chi-square test of independence for
    * o_orderstatus × o_orderpriority, emitted per contingency cell:
    * observed count, expected count (micros), and the cell's chi-square
    * contribution (micros) — the categorical-drift / association audit
    * between two dimensions. All arithmetic is exact: the squared
    * deviation `(obs·N − rowTot·colTot)²` is formed in decimal(38,0)
    * (hugeint in the oracle — headroom past sf30: obs·N ≤ (1.5e6)² at
    * sf1, squared ≈ 5e24, ×10⁶ ≈ 5e30 of the 38-digit budget), and the
    * division is INTEGER division, so both engines floor identically —
    * no float ever enters the graded columns. The global chi2 is the
    * sum of `contrib_micros`, recoverable exactly from the output.
    *
    * Scale: one map-side-combinable count on a bounded (status ×
    * priority) key space; the row/col/grand totals are windows over
    * that ≤|S|·|P|-row aggregate, not over orders.
    */
  def chi2(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.orders(spark, sfDir)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("obs"))
    cells
      .withColumn("row_tot",
        sum(col("obs")).over(Window.partitionBy("o_orderstatus")))
      .withColumn("col_tot",
        sum(col("obs")).over(Window.partitionBy("o_orderpriority")))
      .withColumn("n", sum(col("obs")).over(Window.partitionBy()))
      .withColumn("d",
        (col("obs").cast("decimal(19,0)") * col("n") -
         col("row_tot").cast("decimal(19,0)") * col("col_tot"))
          .cast("decimal(38,0)"))
      .withColumn("e_micros",
        expr("(cast(row_tot AS decimal(19,0)) * col_tot * 1000000) div n"))
      .withColumn("contrib_micros",
        expr("(d * d * 1000000) div " +
             "(cast(row_tot AS decimal(19,0)) * col_tot * n)"))
      .select("o_orderstatus", "o_orderpriority", "obs",
              "e_micros", "contrib_micros")
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  val chi2Oracle: String = """
WITH cells AS (
  SELECT o_orderstatus, o_orderpriority, count(*) AS obs
  FROM orders GROUP BY 1, 2
),
t AS (
  SELECT o_orderstatus, o_orderpriority, obs,
         sum(obs) OVER (PARTITION BY o_orderstatus) AS row_tot,
         sum(obs) OVER (PARTITION BY o_orderpriority) AS col_tot,
         sum(obs) OVER () AS n
  FROM cells
)
SELECT o_orderstatus, o_orderpriority, obs,
       cast((row_tot::hugeint * col_tot * 1000000) // n AS bigint)
         AS e_micros,
       cast(((obs::hugeint * n - row_tot::hugeint * col_tot)
             * (obs::hugeint * n - row_tot::hugeint * col_tot) * 1000000)
            // (row_tot::hugeint * col_tot * n) AS bigint)
         AS contrib_micros
FROM t ORDER BY o_orderstatus, o_orderpriority
"""

  /** q51: decile profile of customer account balances — the standard
    * distribution audit (each decile's population, bounds, and mass).
    * `ntile(10)` over a fully deterministic order (integer cents, then
    * c_custkey as the unique tiebreak) has identical bucket-boundary
    * semantics on both engines (first `n mod 10` buckets get the extra
    * row).
    *
    * Scale: a global ntile is a total sort — acceptable for a profile
    * (one pass, rangepartition-sorted, no single-machine collect), but
    * at 100 TB the same deciles come cheaper from
    * `approx_percentile`-derived boundaries + one broadcast-bucket
    * pass; [[histEquiWidth]] (q30) holds that slot. This query pins the
    * EXACT-rank semantics.
    */
  def decileProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), cents(col("c_acctbal")).as("bal_c"))
    c.withColumn("decile",
        // long: DuckDB's ntile emits BIGINT, Spark's INT — align the type
        ntile(10).over(Window.orderBy(col("bal_c"), col("c_custkey")))
          .cast("long"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_cust"),
           min(col("bal_c")).as("min_c"),
           max(col("bal_c")).as("max_c"),
           sum(col("bal_c")).as("sum_c"))
      .orderBy("decile")
  }

  val decileProfileOracle: String = """
WITH c AS (
  SELECT c_custkey,
         cast(floor(c_acctbal * 100 + 0.5) AS bigint) AS bal_c
  FROM customer
),
d AS (
  SELECT bal_c, ntile(10) OVER (ORDER BY bal_c, c_custkey) AS decile
  FROM c
)
SELECT decile, count(*) AS n_cust, min(bal_c) AS min_c,
       max(bal_c) AS max_c, CAST(sum(bal_c) AS BIGINT) AS sum_c
FROM d GROUP BY decile ORDER BY decile
"""

  /** stats_benford: first-significant-digit distribution of order
    * totals against Benford's law — the classic fraud / synthetic-data
    * audit (organically-grown magnitudes follow log10(1+1/d); invented
    * numbers don't). The first digit is taken from the STRING form of
    * the integer cents (pure string/integer ops — exact cross-engine);
    * observed shares are integer-division ppm; the expected shares are
    * the nine Benford constants ×10⁶ as literals — IDENTICAL literals
    * on both engines, so no log10 is ever evaluated (they sum to
    * exactly 1,000,000). Emitted per digit with the signed deviation.
    *
    * Scale: one map-side-combinable 9-key count; the total rides a
    * window over the 9-row aggregate.
    */
  def benford(spark: SparkSession, sfDir: String): DataFrame = {
    val expected = array(Seq(301030L, 176091L, 124939L, 96910L, 79181L,
      66947L, 57992L, 51153L, 45757L).map(lit): _*)
    val digits = Tables.orders(spark, sfDir)
      .select(cents(col("o_totalprice")).as("c"))
      .where(col("c") > 0)
      .select(substring(col("c").cast("string"), 1, 1).cast("int").as("digit"))
    digits.groupBy("digit").agg(count(lit(1)).as("n"))
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .select(col("digit"), col("n"),
        expr("(n * 1000000) div total").as("obs_ppm"),
        element_at(expected, col("digit")).as("exp_ppm"))
      .withColumn("dev_ppm", col("obs_ppm") - col("exp_ppm"))
      .orderBy("digit")
  }

  val benfordOracle: String = """
WITH d AS (
  SELECT cast(substr(cast(cast(floor(o_totalprice * 100 + 0.5) AS bigint)
                          AS varchar), 1, 1) AS int) AS digit
  FROM orders WHERE floor(o_totalprice * 100 + 0.5) > 0
),
c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit)
SELECT digit, n,
       CAST((n * 1000000) // sum(n) OVER () AS BIGINT) AS obs_ppm,
       CAST(([301030, 176091, 124939, 96910, 79181,
         66947, 57992, 51153, 45757])[digit] AS BIGINT) AS exp_ppm,
       CAST((n * 1000000) // sum(n) OVER ()
         - ([301030, 176091, 124939, 96910, 79181,
             66947, 57992, 51153, 45757])[digit] AS BIGINT) AS dev_ppm
FROM c ORDER BY digit
"""

  /** stats_gini_concentration: revenue-concentration audit — the exact
    * Gini coefficient of per-customer revenue (the Lorenz-curve
    * statistic every marketplace health report carries) plus the top-
    * decile revenue share. Both from the closed form over the sorted
    * revenue vector: `G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx)` with rank i
    * ascending on (revenue, custkey) — fully deterministic; all sums in
    * decimal(38,0) (hugeint in the oracle), emitted in integer-division
    * ppm, so the graded values are exact at any scale (Σi·xᵢ leaves
    * int64 around sf1).
    *
    * Scale: one keyed agg for per-customer revenue, then a global rank
    * — a total sort, the exact-statistic profile-class cost that q51
    * documents; the streaming-friendly alternative (quantile-bucketed
    * approximate Lorenz) trades exactness the gate requires.
    */
  def giniConcentration(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("rev"))
    val ranked = rev
      .withColumn("i", row_number().over(
        Window.orderBy(col("rev"), col("o_custkey"))).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
    ranked
      .agg(
        max(col("n")).as("n_cust"),
        sum(col("rev").cast("decimal(19,0)")).cast("decimal(38,0)").as("sx"),
        sum(col("i").cast("decimal(19,0)") * col("rev"))
          .cast("decimal(38,0)").as("six"),
        sum(when(col("i") > expr("n - n div 10"),
          col("rev")).otherwise(lit(0L))
          .cast("decimal(19,0)")).cast("decimal(38,0)").as("topx"))
      .select(col("n_cust"),
        expr("cast(((2 * six - (n_cust + 1) * sx) * 1000000)" +
             " div (cast(n_cust AS decimal(19,0)) * sx) AS bigint)")
          .as("gini_ppm"),
        expr("cast((topx * 1000000) div sx AS bigint)")
          .as("top_decile_share_ppm"))
  }

  val giniConcentrationOracle: String = """
WITH rev AS (
  SELECT o_custkey,
         sum(cast(floor(o_totalprice * 100 + 0.5) AS bigint)) AS rev
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT rev,
         row_number() OVER (ORDER BY rev, o_custkey) AS i,
         count(*) OVER () AS n
  FROM rev
),
s AS (
  SELECT max(n) AS n_cust,
         sum(rev::hugeint) AS sx,
         sum(i::hugeint * rev) AS six,
         sum(CASE WHEN i > n - n // 10 THEN rev::hugeint ELSE 0 END) AS topx
  FROM ranked
)
SELECT n_cust,
       cast(((2 * six - (n_cust + 1) * sx) * 1000000)
            // (n_cust::hugeint * sx) AS bigint) AS gini_ppm,
       cast((topx * 1000000) // sx AS bigint) AS top_decile_share_ppm
FROM s
"""

  /** q52_attribution: last-touch revenue attribution — every purchase
    * is credited to the user's most recent PRIOR touch event (view /
    * click / signup) within a 1-hour lookback, the marketing-analytics
    * join that answers "which surface drives checkout?". Implemented
    * as ONE pass over the interleaved event sequence (no self-join):
    * per user, ordered by (ts, event_id), `last(..., ignoreNulls)` over
    * the preceding rows carries the latest touch forward; a purchase
    * row then reads that carried (type, ts) and keeps it only if it is
    * inside the lookback, else credits "(none)". Event ids are unique,
    * so the sequence — and therefore the graded result — is fully
    * deterministic; revenue is summed in integer cents.
    *
    * Scale: the window shuffles once on user_id (the natural key) and
    * carries O(1) state per row — the same cost class as sessionization,
    * and the shape that replaces the quadratic "purchases × touches
    * within 1 h" join at 100 TB.
    */
  def attribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"), cents(col("value")).as("vc"))
    val seq = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type").isin("view", "click", "signup"),
      struct(col("us"), col("event_type")))
    ev
      .withColumn("lt", last(touch, ignoreNulls = true).over(seq))
      .where(col("event_type") === "purchase")
      .select(
        when(col("lt").isNotNull && col("lt.us") >= col("us") - lit(3600000000L),
          col("lt.event_type")).otherwise(lit("(none)")).as("touch_type"),
        col("vc"))
      .groupBy("touch_type")
      .agg(count(lit(1)).as("n_purchases"), sum(col("vc")).as("cents_total"))
      .orderBy("touch_type")
  }

  val attributionOracle: String = """
WITH ev AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         cast(floor(value * 100 + 0.5) AS bigint) AS vc
  FROM events
),
seq AS (
  SELECT *,
         last_value(CASE WHEN event_type IN ('view', 'click', 'signup')
                         THEN us END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_us,
         last_value(CASE WHEN event_type IN ('view', 'click', 'signup')
                         THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_type
  FROM ev
)
SELECT CASE WHEN lt_us IS NOT NULL AND lt_us >= us - 3600000000
            THEN lt_type ELSE '(none)' END AS touch_type,
       count(*) AS n_purchases, CAST(sum(vc) AS BIGINT) AS cents_total
FROM seq WHERE event_type = 'purchase'
GROUP BY 1 ORDER BY touch_type
"""

  /** stats_ks_test: two-sample Kolmogorov–Smirnov distance between the
    * order-total distributions of finished (`F`) vs open (`O`) orders —
    * the standard distribution-drift gate a pipeline runs between a
    * reference and a candidate data slice. The D statistic is kept
    * EXACT by never dividing: with the two samples' inclusive ECDF
    * counts `cumA/cumB` over the merged value grid,
    * `D = max |cumA/nA − cumB/nB| = max |nB·cumA − nA·cumB| / (nA·nB)`,
    * and the graded columns are the integer numerator at its argmax
    * (ties broken toward the smallest value) plus a ppm quotient via
    * integer division. Products stay under int64 far past sf1
    * (nB·cumA ≤ nA·nB ≈ 10¹² at sf1).
    *
    * Scale: one histogram aggregation on integer cents (distinct-value
    * cardinality, not row count), one ordered window over that
    * histogram — the same global-sort cost class as the exact Gini
    * above; a sketch-based KS (KLL ECDFs) is the approximate
    * alternative when even the value grid is too large to sort.
    */
  def ksTest(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .where(col("o_orderstatus").isin("F", "O"))
      .select(col("o_orderstatus").as("g"), cents(col("o_totalprice")).as("v"))
    val hist = o.groupBy("v").agg(
      sum(when(col("g") === "F", 1L).otherwise(0L)).as("ca"),
      sum(when(col("g") === "O", 1L).otherwise(0L)).as("cb"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    hist
      .select(col("v"),
        sum(col("ca")).over(w).as("cuma"),
        sum(col("cb")).over(w).as("cumb"))
      .withColumn("na", max(col("cuma")).over(tot))
      .withColumn("nb", max(col("cumb")).over(tot))
      .select(col("na"), col("nb"), col("v").as("at_cents"),
        abs(col("nb") * col("cuma") - col("na") * col("cumb")).as("d_num"))
      .withColumn("d_ppm", expr("(d_num * 1000000) div (na * nb)"))
      .orderBy(col("d_num").desc, col("at_cents"))
      .limit(1)
  }

  val ksTestOracle: String = """
WITH o AS (
  SELECT o_orderstatus AS g,
         cast(floor(o_totalprice * 100 + 0.5) AS bigint) AS v
  FROM orders WHERE o_orderstatus IN ('F', 'O')
),
hist AS (
  SELECT v,
         sum(CASE WHEN g = 'F' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN g = 'O' THEN 1 ELSE 0 END) AS cb
  FROM o GROUP BY v
),
cum AS (
  SELECT v,
         sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cuma,
         sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumb
  FROM hist
),
sc AS (
  SELECT max(cuma) OVER () AS na, max(cumb) OVER () AS nb,
         v AS at_cents,
         abs(max(cumb) OVER () * cuma - max(cuma) OVER () * cumb) AS d_num
  FROM cum
)
SELECT CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb, at_cents,
       CAST(d_num AS BIGINT) AS d_num,
       CAST((d_num * 1000000) // (na * nb) AS BIGINT) AS d_ppm
FROM sc ORDER BY d_num DESC, at_cents LIMIT 1
"""

  /** stats_mannwhitney: Mann–Whitney rank-sum U between purchase and
    * click event values — the nonparametric location-shift test (does
    * one slice stochastically dominate the other?) that survives the
    * heavy tails a t-test chokes on. Tie-corrected U is computed by
    * the counting identity (each A-observation contributes one per
    * strictly-smaller B plus ½ per equal B), doubled to stay integral:
    * `2·U_A = Σ_v ca(v)·(2·cumB<(v) + cb(v))`. The complement
    * `2·U_B = 2·nA·nB − 2·U_A` and a ppm effect size
    * (`U_A/(nA·nB)` — the common-language effect size / AUC) are
    * emitted alongside. All integer; headroom 2·nA·nB ≈ 10¹² at sf1.
    *
    * Scale: identical cost shape to the KS gate — histogram agg plus
    * one ordered window over distinct values.
    */
  def mannWhitney(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .where(col("event_type").isin("purchase", "click"))
      .select(col("event_type").as("g"), cents(col("value")).as("v"))
    val hist = e.groupBy("v").agg(
      sum(when(col("g") === "purchase", 1L).otherwise(0L)).as("ca"),
      sum(when(col("g") === "click", 1L).otherwise(0L)).as("cb"))
    val below = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("cumb_less", coalesce(sum(col("cb")).over(below), lit(0L)))
      .agg(
        sum(col("ca")).as("na"),
        sum(col("cb")).as("nb"),
        sum(col("ca") * (lit(2L) * col("cumb_less") + col("cb"))).as("u2_a"))
      .select(col("na"), col("nb"), col("u2_a"),
        (lit(2L) * col("na") * col("nb") - col("u2_a")).as("u2_b"),
        expr("(u2_a * 1000000) div (2 * na * nb)").as("auc_ppm"))
  }

  val mannWhitneyOracle: String = """
WITH e AS (
  SELECT event_type AS g,
         cast(floor(value * 100 + 0.5) AS bigint) AS v
  FROM events WHERE event_type IN ('purchase', 'click')
),
hist AS (
  SELECT v,
         sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS cb
  FROM e GROUP BY v
),
c AS (
  SELECT ca, cb,
         coalesce(sum(cb) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cumb_less
  FROM hist
),
s AS (
  SELECT sum(ca) AS na, sum(cb) AS nb,
         sum(ca * (2 * cumb_less + cb)) AS u2_a
  FROM c
)
SELECT CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
       CAST(u2_a AS BIGINT) AS u2_a,
       CAST(2 * na * nb - u2_a AS BIGINT) AS u2_b,
       CAST((u2_a * 1000000) // (2 * na * nb) AS BIGINT) AS auc_ppm
FROM s
"""

  /** stats_autocorr: lag-1 autocorrelation of the daily revenue series
    * — the "is today like yesterday" persistence statistic that decides
    * whether a forecast needs an AR term. Exactness follows the
    * q29_stats_moments recipe: the sums S=Σy, S2=Σy², C=Σyₜ·yₜ₊₁ are
    * EXACT (decimal(38,0) / hugeint — order-independent under parallel
    * aggregation), and the ratio
    * `r₁ = (n²C − nS(2S−y₁−yₙ) + (n−1)S²) / (n(nS2 − S²))`
    * (the mean-centered expansion cleared of the 1/n fractions) is
    * evaluated in doubles with IDENTICAL expression text on both
    * engines — same inputs, same op order, same bits — and floored to
    * micros. Headroom ≈ 10³⁰ of decimal38's 10³⁸ at sf1.
    *
    * Scale: one map-side-combinable daily rollup; the lag join is a
    * `lead` window over the bounded calendar series.
    */
  def autocorr(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum(cents(col("o_totalprice"))).as("y"))
    val led = daily
      .withColumn("y2", lead(col("y"), 1).over(Window.orderBy("day")))
    val m = led.agg(
      count(lit(1)).as("n"),
      sum(col("y")).as("s"),
      sum(col("y").cast("decimal(19,0)") * col("y"))
        .cast("decimal(38,0)").as("s2"),
      sum(col("y").cast("decimal(19,0)") * col("y2"))
        .cast("decimal(38,0)").as("c"),
      min_by(col("y"), col("day")).as("y1"),
      max_by(col("y"), col("day")).as("yn"))
    val num = "(cast(n as double) * cast(n as double) * cast(c as double) - " +
      "cast(n as double) * cast(s as double) * " +
      "(2.0 * cast(s as double) - cast(y1 as double) - cast(yn as double)) + " +
      "(cast(n as double) - 1.0) * cast(s as double) * cast(s as double))"
    val den = "(cast(n as double) * (cast(n as double) * cast(s2 as double) - " +
      "cast(s as double) * cast(s as double)))"
    m.select(col("n").as("n_days"),
      expr(s"cast(floor(1000000.0 * $num / $den) as bigint)").as("r1_micros"))
  }

  val autocorrOracle: String = """
WITH daily AS (
  SELECT o_orderdate AS day,
         sum(cast(floor(o_totalprice * 100 + 0.5) AS bigint)) AS y
  FROM orders GROUP BY 1
),
led AS (
  SELECT day, y, lead(y) OVER (ORDER BY day) AS y2 FROM daily
),
m AS (
  SELECT count(*) AS n, sum(y) AS s,
         sum(y::hugeint * y) AS s2,
         sum(y::hugeint * y2) AS c,
         arg_min(y, day) AS y1, arg_max(y, day) AS yn
  FROM led
)
SELECT n AS n_days,
       cast(floor(1000000.0 *
         (cast(n AS double) * cast(n AS double) * cast(c AS double) -
          cast(n AS double) * cast(s AS double) *
          (2.0 * cast(s AS double) - cast(y1 AS double) - cast(yn AS double)) +
          (cast(n AS double) - 1.0) * cast(s AS double) * cast(s AS double)) /
         (cast(n AS double) * (cast(n AS double) * cast(s2 AS double) -
          cast(s AS double) * cast(s AS double)))) AS bigint) AS r1_micros
FROM m
"""

  /** stats_cusum: CUSUM changepoint scan over the daily event-count
    * series — the classic "did the feed's volume regime shift, and
    * when?" monitor. The mean-centered cumulative sum
    * `S_k = Σ_{i≤k}(x_i − x̄)` is scaled by the day count N to stay
    * integral (`N·S_k = N·cum_k − k·T`), and the five days with the
    * largest |N·S_k| (ties toward the earlier day) are emitted — the
    * top candidate is the estimated changepoint, the runners-up show
    * whether the shift is a spike or a plateau edge. Headroom:
    * N·cum ≤ 730·(2·10⁶) ≈ 1.5·10⁹ at sf1.
    *
    * Scale: the daily series is one map-side-combinable count (≤ a few
    * thousand rows regardless of event volume); the scan is a window
    * over that tiny series, so the statistic is effectively free at
    * any event scale.
    */
  def cusum(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("day").agg(count(lit(1)).as("x"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    daily
      .select(col("day"), col("x"),
        sum(col("x")).over(w).as("cum"),
        row_number().over(Window.orderBy("day")).cast("long").as("k"))
      .withColumn("n_days", count(lit(1)).over(tot))
      .withColumn("total", sum(col("x")).over(tot))
      .select(col("day"), col("x"), col("n_days"), col("total"),
        (col("n_days") * col("cum") - col("k") * col("total")).as("s_scaled"))
      .orderBy(abs(col("s_scaled")).desc, col("day"))
      .limit(5)
  }

  val cusumOracle: String = """
WITH daily AS (
  SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS x
  FROM events GROUP BY 1
),
scan AS (
  SELECT day, x,
         sum(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum,
         row_number() OVER (ORDER BY day) AS k,
         count(*) OVER () AS n_days,
         sum(x) OVER () AS total
  FROM daily
)
SELECT day, x, n_days, CAST(total AS BIGINT) AS total,
       CAST(n_days * cum - k * total AS BIGINT) AS s_scaled
FROM scan ORDER BY abs(n_days * cum - k * total) DESC, day LIMIT 5
"""

  /** stats_theilsen: Theil–Sen robust trend of daily revenue per order
    * priority — the median of all pairwise day-to-day slopes. Unlike
    * the OLS fits (q53's rolling slope, q6's forecast), a single whale
    * day can't drag this estimator: its breakdown point is 29%, which
    * is why monitoring pipelines prefer it for revenue/latency series.
    *
    * Exactness: slopes are fixed-point integers
    * `(Δcents · 10⁶) div Δdays` (truncation toward zero — `div` and
    * DuckDB's `//` agree on negatives, the q53 contract), and the
    * median is an EXACT ORDER STATISTIC — rank ⌈n/2⌉ by (slope, pair
    * id), found by two-phase distributed selection (bucket histogram →
    * target bucket → sort one bucket; see the inline comment) — not an
    * interpolated percentile, so every graded value is pure int64
    * (headroom: daily cents ≲ 10¹⁰ at sf1, ×10⁶ ≪ 2⁶³).
    *
    * Scale: the pairwise self-join is on the DAILY series — O(days²)
    * with days bounded by the CALENDAR (~2.4k for this corpus), not by
    * corpus size; the reduction from N orders to the daily series is
    * one map-side-combinable aggregation. This is the same
    * bounded-by-construction argument as the sim_* query sets: the
    * quadratic factor cannot grow with data volume.
    */
  def theilSen(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority").as("g"),
               col("o_orderdate").as("d"))
      .agg(sum(cents(col("o_totalprice"))).as("y"))
      .select(col("g"),
        datediff(col("d"), lit("1992-01-01").cast("date")).cast("long")
          .as("x"),
        col("y"))
    // Materialize the tiny daily series once (both join sides reuse the
    // cached blocks instead of re-aggregating orders), and ENFORCE the
    // calendar-bound the scale argument above rests on: 60k daily rows
    // ≈ 30+ years × the 5 priority groups. More means the grouping key
    // changed and the O(n²) pairwise join below is no longer safe.
    // Spread the tiny daily series across the cluster's cores BEFORE
    // the pairwise explosion: AQE coalesces the ~12k-row aggregate to
    // ONE post-shuffle partition (right for its byte size), but the
    // O(n²) slope generation downstream is CPU-bound, not byte-bound —
    // measured at sf0.1 the whole 13M-pair explosion ran in a single
    // task (probe: tasks=14 over 14 stages, 3.9 s single-threaded).
    // Round-robin over defaultParallelism is scale-adaptive (it follows
    // the cluster size, not a local constant) and costs one shuffle of
    // the CALENDAR-BOUNDED series (guide §2.5: partition count must
    // follow the work, not the bytes, when rows explode downstream).
    val dailyCk = daily
      .repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint()
    val nDaily = dailyCk.count()
    require(nDaily <= 60000L,
      s"theilsen: daily series has $nDaily rows — not calendar-bounded; " +
      "refusing the O(n^2) pairwise join")
    val a = dailyCk.toDF("g", "xa", "ya")
    val b = dailyCk.toDF("g", "xb", "yb")
    // nullif keeps the division TOTAL: codegen may evaluate the slope
    // expression inside the join's consume path before the xa<xb check
    // lands (observed under ANSI mode when this projection feeds a
    // second broadcast join), and a thrown DIVIDE_BY_ZERO on a row the
    // filter was about to drop would kill the job. xa<xb rows are
    // untouched; xa==xb rows become null and are filtered regardless.
    def slopes = a.join(b, Seq("g"))
      .where(col("xa") < col("xb"))
      .select(col("g"),
        expr("((yb - ya) * 1000000) div nullif(xb - xa, 0)").as("slope_fp"),
        (col("xa") * 100000 + col("xb")).as("pair_id"))
    // The median is an exact k-th order statistic, found by TWO-PHASE
    // DISTRIBUTED SELECTION instead of a full per-group sort (the
    // row_number window put each group's ~n²/2 pairs in ONE task):
    //  phase 1 — histogram the slopes by their high bits (slope_fp >> 32
    //    — an ARITHMETIC shift, i.e. floor division: monotone across
    //    zero where `div` is not), a map-side-combinable count;
    //  phase 2 — the cumulative histogram (a window over the tiny
    //    bucket table) names the one bucket holding the target rank;
    //    only THAT bucket's pairs are re-generated, sorted, and indexed.
    // Both passes over the pairs are narrow scans of the broadcast-join
    // explosion; nothing ever sorts more than one bucket. The pair
    // count per group is analytic (cnt·(cnt−1)/2), so no count window
    // runs over the pairs at all.
    val targets = dailyCk.groupBy("g").agg(count(lit(1)).as("cnt"))
      .select(col("g"), expr("cnt * (cnt - 1) div 2").as("n"))
      .select(col("g"), col("n"), expr("(n + 1) div 2").as("target"))
    val hist = slopes
      .groupBy(col("g"), shiftright(col("slope_fp"), 32).as("bkt"))
      .agg(count(lit(1)).as("c"))
    val wb = Window.partitionBy("g").orderBy("bkt")
    val chosen = hist
      .withColumn("cum", sum(col("c")).over(wb))
      .join(broadcast(targets.where(col("n") > 0)), "g")
      .where(col("cum") >= col("target") &&
             col("cum") - col("c") < col("target"))
      .select(col("g"), col("bkt"), col("n"),
        (col("target") - (col("cum") - col("c"))).as("rank_in_bkt"))
    val wsel = Window.partitionBy("g").orderBy("slope_fp", "pair_id")
    slopes
      .withColumn("bkt", shiftright(col("slope_fp"), 32))
      .join(broadcast(chosen), Seq("g", "bkt"))
      .withColumn("rn", row_number().over(wsel).cast("long"))
      .where(col("rn") === col("rank_in_bkt"))
      .select(col("g").as("o_orderpriority"), col("n").as("n_pairs"),
        col("slope_fp").as("theilsen_slope_fp"))
      .orderBy("o_orderpriority")
  }

  val theilSenOracle: String = """
WITH daily AS (
  SELECT o_orderpriority AS g,
         date_diff('day', DATE '1992-01-01', o_orderdate) AS x,
         sum(cast(floor(o_totalprice * 100 + 0.5) AS bigint)) AS y
  FROM orders GROUP BY 1, 2
),
slopes AS (
  SELECT a.g,
         cast(((b.y - a.y) * 1000000) // (b.x - a.x) AS bigint) AS slope_fp,
         a.x * 100000 + b.x AS pair_id
  FROM daily a JOIN daily b ON a.g = b.g AND a.x < b.x
),
ranked AS (
  SELECT g, slope_fp,
         row_number() OVER (PARTITION BY g ORDER BY slope_fp, pair_id) AS rn,
         count(*) OVER (PARTITION BY g) AS n
  FROM slopes
)
SELECT g AS o_orderpriority, n AS n_pairs, slope_fp AS theilsen_slope_fp
FROM ranked WHERE rn = (n + 1) // 2 ORDER BY o_orderpriority
"""

  /** stats_mann_kendall: Mann–Kendall trend test of daily revenue per
    * order priority — the nonparametric partner of stats_theilsen's
    * slope: S = Σ_{i<j} sign(yⱼ − yᵢ) over the day-ordered series, plus
    * the tie-corrected variance NUMERATOR
    * `18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)` (t = per-value tie
    * group sizes). Every graded value is pure int64 — the sign sum and
    * both variance terms are integers; the caller divides by 18 and
    * takes the z-score, which is the only non-rational step and stays
    * out of the gate (the SCALE.md no-libm rule).
    *
    * Scale: identical profile to theilsen — the pairwise join is on the
    * CALENDAR-bounded daily series (same 60k-row `require`), reached by
    * one map-side-combinable rollup of orders; the tie histogram is a
    * second tiny agg on the same checkpointed series. S needs only a
    * sign, so no selection machinery: one combinable sum over the pairs.
    */
  def mannKendall(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority").as("g"), col("o_orderdate").as("d"))
      .agg(sum(cents(col("o_totalprice"))).as("y"))
      .select(col("g"),
        datediff(col("d"), lit("1992-01-01").cast("date")).cast("long").as("x"),
        col("y"))
      // Same core-spread as theilSen (see its comment): the O(n²) sign
      // pass downstream is CPU-bound while AQE coalesces this tiny
      // aggregate to one partition by bytes.
      .repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint()
    val nDaily = daily.count()
    require(nDaily <= 60000L,
      s"mann_kendall: daily series has $nDaily rows — not calendar-bounded; " +
      "refusing the O(n^2) pairwise join")
    val a = daily.toDF("g", "xa", "ya")
    val b = daily.toDF("g", "xb", "yb")
    val s = a.join(b, Seq("g")).where(col("xa") < col("xb"))
      .groupBy("g")
      .agg(sum(when(col("yb") > col("ya"), 1L)
        .when(col("yb") < col("ya"), -1L).otherwise(0L)).as("s_stat"))
    val ties = daily.groupBy("g", "y").agg(count(lit(1)).as("t"))
      .groupBy("g")
      .agg(count(lit(1)).as("n_distinct"),
           sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_term"))
    daily.groupBy("g").agg(count(lit(1)).as("n_days"))
      .join(s, "g").join(ties, "g")
      .select(col("g").as("o_orderpriority"), col("n_days"),
        col("n_distinct"), col("s_stat"),
        (expr("n_days * (n_days - 1) * (2 * n_days + 5)") - col("tie_term"))
          .as("var18"))
      .orderBy("o_orderpriority")
  }

  val mannKendallOracle: String = """
WITH daily AS (
  SELECT o_orderpriority AS g,
         date_diff('day', DATE '1992-01-01', o_orderdate) AS x,
         sum(cast(floor(o_totalprice * 100 + 0.5) AS bigint)) AS y
  FROM orders GROUP BY 1, 2
),
s AS (
  SELECT a.g,
         sum(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END) AS s_stat
  FROM daily a JOIN daily b ON a.g = b.g AND a.x < b.x
  GROUP BY 1
),
ties AS (
  SELECT g, count(*) AS n_distinct,
         sum(t * (t - 1) * (2 * t + 5)) AS tie_term
  FROM (SELECT g, y, count(*) AS t FROM daily GROUP BY 1, 2)
  GROUP BY 1
),
n AS (SELECT g, count(*) AS n_days FROM daily GROUP BY 1)
SELECT n.g AS o_orderpriority, n.n_days,
       CAST(ties.n_distinct AS BIGINT) AS n_distinct,
       CAST(s.s_stat AS BIGINT) AS s_stat,
       CAST(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5) - ties.tie_term
            AS BIGINT) AS var18
FROM n JOIN s ON s.g = n.g JOIN ties ON ties.g = n.g
ORDER BY o_orderpriority
"""

  /** stats_seasonality: day-of-week seasonal index of daily order
    * revenue — each weekday's mean daily revenue relative to the
    * all-days mean, in integer ppm (1 000 000 = exactly average). The
    * decomposition every ops dashboard runs before alerting on a
    * "drop" that is just a weekend. The weekday index is pure
    * arithmetic — `x mod 7` on the days-since-1992-01-01 integer
    * (0 = Wednesday) — so no engine calendar/locale function is in the
    * graded path (DuckDB's dayofweek counts from Sunday, Spark's from
    * Monday via weekday(); the mod sidesteps the whole family).
    *
    * Scale: one map-side-combinable daily rollup of orders, then a
    * 7-row aggregate; the overall mean rides a 1-row cross join.
    */
  def seasonality(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderdate").as("d"))
      .agg(sum(cents(col("o_totalprice"))).as("y"))
      .select(
        datediff(col("d"), lit("1992-01-01").cast("date")).cast("long").as("x"),
        col("y"))
      .localCheckpoint() // the weekday rollup and the global mean share it
    // Driver scalar (bm25 pattern): one Long off the checkpointed daily
    // series — cheaper and NLJ-free vs a 1-row cross join.
    val overallMean = daily.agg(expr("sum(y) div count(1)")).head.getLong(0)
    daily.groupBy(expr("x % 7").as("wd"))
      .agg(count(lit(1)).as("n_days"),
           sum(col("y")).as("total_cents"))
      .select(col("wd"), col("n_days"),
        expr("total_cents div n_days").as("mean_cents"),
        expr(s"((total_cents div n_days) * 1000000) div ${overallMean}L")
          .as("index_ppm"))
      .orderBy("wd")
  }

  val seasonalityOracle: String = """
WITH daily AS (
  SELECT date_diff('day', DATE '1992-01-01', o_orderdate) AS x,
         sum(cast(floor(o_totalprice * 100 + 0.5) AS bigint)) AS y
  FROM orders GROUP BY 1
),
o AS (SELECT sum(y) // count(*) AS om FROM daily)
SELECT x % 7 AS wd, count(*) AS n_days,
       CAST(sum(y) // count(*) AS BIGINT) AS mean_cents,
       CAST(((sum(y) // count(*)) * 1000000) // (SELECT om FROM o) AS BIGINT)
         AS index_ppm
FROM daily GROUP BY 1 ORDER BY wd
"""

  /** stats_pareto_front: per-brand Pareto front (skyline) of the parts
    * catalog on (price low, size high) — the points no other same-brand
    * point beats on both axes, the multi-objective shortlist query
    * (cheapest-per-capability) that product/procurement analytics run.
    * The naive skyline is an O(n²) dominance check that does NOT
    * survive 100 TB; the scale move is DOMAIN REDUCTION first: size is
    * a bounded attribute (integer 1..50), so collapsing to the per-
    * (brand, size) MIN price — one map-side-combinable aggregate —
    * leaves ≤ |sizes| candidate points per brand, and only THAT
    * calendar-bounded-style table pays the quadratic dominance
    * anti-join (equi on brand + inequality residual: a hash anti-join,
    * probe cost |sizes|² per brand, enforced by a `require`). The
    * reduction is lossless: a dominated (brand, size) price is also
    * dominated in the reduced set, and every skyline point survives as
    * its size's minimum.
    */
  def paretoFront(spark: SparkSession, sfDir: String): DataFrame = {
    val pts = Tables.part(spark, sfDir)
      .groupBy(col("p_brand"), col("p_size"))
      .agg(min(cents(col("p_retailprice"))).as("price_cents"))
      .localCheckpoint()
    val maxPerBrand = pts.groupBy("p_brand").agg(count(lit(1)).as("c"))
      .agg(max(col("c"))).head.getLong(0)
    require(maxPerBrand <= 64L,
      s"pareto: $maxPerBrand points per brand after reduction — size is " +
      "no longer a bounded domain; the quadratic dominance join is unsafe")
    val dom = pts.toDF("b2", "s2", "pc2")
    pts.join(dom,
        col("p_brand") === col("b2") &&
        col("s2") >= col("p_size") && col("pc2") <= col("price_cents") &&
        (col("s2") > col("p_size") || col("pc2") < col("price_cents")),
        "left_anti")
      .orderBy("p_brand", "p_size")
  }

  val paretoFrontOracle: String = """
WITH pts AS (
  SELECT p_brand, p_size,
         min(cast(floor(p_retailprice * 100 + 0.5) AS bigint)) AS price_cents
  FROM part GROUP BY 1, 2
)
SELECT p_brand, p_size, price_cents
FROM pts a
WHERE NOT EXISTS (
  SELECT 1 FROM pts b
  WHERE b.p_brand = a.p_brand
    AND b.p_size >= a.p_size AND b.price_cents <= a.price_cents
    AND (b.p_size > a.p_size OR b.price_cents < a.price_cents))
ORDER BY p_brand, p_size
"""

  /** stats_runs_test: Wald–Wolfowitz runs test of daily revenue per
    * order priority — dichotomize each day as above/below the group's
    * MEDIAN (median-equal days dropped, the standard convention), then
    * count maximal same-side RUNS in day order: too few runs ⇒ trend/
    * autocorrelation, too many ⇒ oscillation. Completes the
    * nonparametric panel (mannwhitney = location, mann_kendall =
    * monotone trend, this = randomness of the sequence). The median is
    * an EXACT order statistic — rank ⌈n/2⌉ by (y, x) — and the graded
    * values (n above, n below, runs) are pure counts, so the gate is
    * bit-exact; the z-score's sqrt stays with the caller (no-libm
    * rule).
    *
    * Scale: the daily series is calendar-bounded (one combinable
    * rollup of orders); the rank and lag windows partition by the
    * 5-value priority key over that bounded series. No pairwise join
    * at all — the cheapest member of the panel.
    */
  def runsTest(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority").as("g"), col("o_orderdate").as("d"))
      .agg(sum(cents(col("o_totalprice"))).as("y"))
      .select(col("g"),
        datediff(col("d"), lit("1992-01-01").cast("date")).cast("long").as("x"),
        col("y"))
      .localCheckpoint() // median pass and the run walk share it
    val wRank = Window.partitionBy("g").orderBy("y", "x")
    val wAll = Window.partitionBy("g")
    val med = daily
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wAll))
      .where(col("rn") === expr("(n + 1) div 2"))
      .select(col("g"), col("y").as("med"))
    val wSeq = Window.partitionBy("g").orderBy("x")
    daily.join(broadcast(med), "g")
      .where(col("y") =!= col("med"))
      .select(col("g"), col("x"), (col("y") > col("med")).as("above"))
      .withColumn("newrun",
        when(lag(col("above"), 1).over(wSeq).isNull ||
             col("above") =!= lag(col("above"), 1).over(wSeq), 1L)
          .otherwise(0L))
      .groupBy("g")
      .agg(sum(when(col("above"), 1L).otherwise(0L)).as("n_above"),
           sum(when(!col("above"), 1L).otherwise(0L)).as("n_below"),
           sum(col("newrun")).as("n_runs"))
      .select(col("g").as("o_orderpriority"), col("n_above"),
        col("n_below"), col("n_runs"))
      .orderBy("o_orderpriority")
  }

  val runsTestOracle: String = """
WITH daily AS (
  SELECT o_orderpriority AS g,
         date_diff('day', DATE '1992-01-01', o_orderdate) AS x,
         sum(cast(floor(o_totalprice * 100 + 0.5) AS bigint)) AS y
  FROM orders GROUP BY 1, 2
),
med AS (
  SELECT g, y AS med FROM (
    SELECT g, y, row_number() OVER (PARTITION BY g ORDER BY y, x) AS rn,
           count(*) OVER (PARTITION BY g) AS n
    FROM daily)
  WHERE rn = (n + 1) // 2
),
marked AS (
  SELECT daily.g, x, (y > med) AS above
  FROM daily JOIN med ON med.g = daily.g
  WHERE y <> med
),
runs AS (
  SELECT g, above,
         CASE WHEN lag(above) OVER w IS NULL
                OR above <> lag(above) OVER w THEN 1 ELSE 0 END AS newrun
  FROM marked WINDOW w AS (PARTITION BY g ORDER BY x)
)
SELECT g AS o_orderpriority,
       CAST(sum(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
       CAST(sum(CASE WHEN NOT above THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
       CAST(sum(newrun) AS BIGINT) AS n_runs
FROM runs GROUP BY g ORDER BY o_orderpriority
"""

  /** stats_bootstrap_ci: bootstrap confidence interval for the mean
    * daily revenue — the distribution-free uncertainty estimate a
    * metrics platform attaches to a point statistic. B = 30 Poisson
    * bootstrap resamples (the resampling scheme that needs no global
    * coordination, which is why it is THE distributed bootstrap): each
    * (resample, day) multiplicity is drawn from a deterministic
    * md5-derived distribution on {0,1,2,3} with mean ≈ 0.94 and
    * variance ≈ 0.8 — engine-neutral hash randomness, the
    * [[graft.queries.SimilarityQueries]] hyperplane trick, so the
    * whole resampling replays bit-for-bit in the oracle. The interval
    * is the 2nd/29th ORDER STATISTIC of the 30 resample means (exact
    * integer ranks, the stats_winsorized discipline — no interpolated
    * percentile), the mean itself integer-cents `div`.
    *
    * Scale: the daily series is calendar-bounded (~2.4k rows); the
    * resample cross is B × days rows reduced by ONE map-side-
    * combinable agg into B means. On the raw fact table the same
    * shape is one pass: explode B multiplicities per row, agg by
    * resample — never a data-sized shuffle per resample.
    */
  def bootstrapCi(spark: SparkSession, sfDir: String): DataFrame = {
    val b = 30
    val daily = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderdate").as("d"))
      .agg(sum(cents(col("o_totalprice"))).as("y"))
    // multiplicity from the first md5 hex digit: 0-5 → 0 copies,
    // 6-b → 1, c-e → 2, f → 3  (mean .9375, var .81 — Poisson-ish).
    val m = expr(
      "CASE WHEN h < '6' THEN 0 WHEN h < 'c' THEN 1 WHEN h < 'f' THEN 2 " +
        "ELSE 3 END")
    val means = daily
      .select(col("d"), col("y"), explode(expr(s"sequence(1, $b)")).as("r"))
      .select(col("r"), col("y"),
        // o_orderdate is a TIMESTAMP in the parquet: render the DAY
        // explicitly so both engines hash the same 'r:yyyy-MM-dd' text.
        substring(md5(concat(col("r").cast("string"), lit(":"),
          date_format(col("d"), "yyyy-MM-dd"))), 1, 1).as("h"))
      .select(col("r"), col("y"), m.as("m"))
      .groupBy("r")
      .agg(sum(col("m") * col("y")).as("sy"), sum(col("m")).as("sm"))
      .select(col("r"), expr("sy div sm").as("mean_b"))
    val ranked = means
      .select(col("mean_b"),
        row_number().over(Window.orderBy(col("mean_b"), col("r")))
          .as("rn"))
    val point = daily.agg(count(lit(1)).as("n_days"),
      expr("sum(y) div count(1)").as("mean_all"))
    point.crossJoin(
        ranked.where(col("rn") === 2).select(col("mean_b").as("ci_lo")))
      .crossJoin(
        ranked.where(col("rn") === b - 1).select(col("mean_b").as("ci_hi")))
  }

  val bootstrapCiOracle: String = """
WITH daily AS (
  SELECT o_orderdate AS d,
         sum(cast(floor(o_totalprice * 100 + 0.5) AS bigint)) AS y
  FROM orders GROUP BY 1
),
res AS (
  SELECT r.r, daily.y,
         substr(md5(r.r || ':' || strftime(daily.d, '%Y-%m-%d')), 1, 1) AS h
  FROM daily, unnest(range(1, 31)) AS r(r)
),
mult AS (
  SELECT r, y, CASE WHEN h < '6' THEN 0 WHEN h < 'c' THEN 1
                    WHEN h < 'f' THEN 2 ELSE 3 END AS m
  FROM res
),
means AS (
  SELECT r, sum(m * y) // sum(m) AS mean_b FROM mult GROUP BY r
),
ranked AS (
  SELECT mean_b, row_number() OVER (ORDER BY mean_b, r) AS rn FROM means
),
point AS (
  SELECT count(*) AS n_days, sum(y) // count(*) AS mean_all FROM daily
)
SELECT point.n_days, CAST(point.mean_all AS BIGINT) AS mean_all,
       CAST(lo.mean_b AS BIGINT) AS ci_lo, CAST(hi.mean_b AS BIGINT) AS ci_hi
FROM point,
     (SELECT mean_b FROM ranked WHERE rn = 2) lo,
     (SELECT mean_b FROM ranked WHERE rn = 29) hi
"""

  /** stats_spearman: Spearman rank correlation between the daily order
    * COUNT and the daily revenue — "do busier days also bill more?" —
    * with proper average-rank tie handling, entirely in exact integer
    * arithmetic. Ranks are carried DOUBLED (2·avgRank = 2·rank + |ties|
    * − 1, an integer even when the average rank is x.5), so Pearson
    * over them needs no rationals; the graded outputs are the exact
    * moment numerators (num = n·Σxy − Σx·Σy, sxx, syy), the sign, and
    * ρ² in ppm via one decimal(38,0) division — no square root ever
    * taken, so the hash gate is bit-exact cross-engine. Completes the
    * correlation panel: Pearson (q29), Kendall-style (mann_kendall),
    * Spearman here.
    *
    * Scale: the daily rollup is map-side combinable and CALENDAR-
    * bounded (~2.4k rows at any sf), so the two global rank windows
    * run over thousands of rows regardless of corpus size; magnitudes
    * are bounded by the calendar too (2·rank ≤ 2·days, Σx² ≤ days³ ≈
    * 1.4e10), with only the final ρ² product needing decimal(38,0).
    */
  def spearman(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
        .cast("long").as("day"))
      .agg(count(lit(1)).as("nx"), sum(cents(col("o_totalprice"))).as("ny"))
    val ranked = daily
      .withColumn("rx", lit(2L) * rank().over(Window.orderBy("nx"))
        + count(lit(1)).over(Window.partitionBy("nx")) - lit(1L))
      .withColumn("ry", lit(2L) * rank().over(Window.orderBy("ny"))
        + count(lit(1)).over(Window.partitionBy("ny")) - lit(1L))
    ranked
      .agg(count(lit(1)).as("n"), sum(col("rx")).as("sx"),
           sum(col("ry")).as("sy"), sum(col("rx") * col("rx")).as("sxx"),
           sum(col("ry") * col("ry")).as("syy"),
           sum(col("rx") * col("ry")).as("sxy"))
      .select(col("n").as("n_days"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("den_x"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("den_y"))
      .select(col("n_days"), col("num"), col("den_x"), col("den_y"),
        when(col("num") > 0, 1L).when(col("num") < 0, -1L).otherwise(0L)
          .as("rho_sign"),
        expr("cast((cast(num AS decimal(38,0)) * num * 1000000)" +
             " div (cast(den_x AS decimal(38,0)) * den_y) AS bigint)")
          .as("rho2_ppm"))
  }

  val spearmanOracle: String = """
WITH daily AS (
  SELECT date_diff('day', DATE '1992-01-01', o_orderdate) AS day,
         count(*) AS nx,
         sum(cast(floor(o_totalprice * 100 + 0.5) AS bigint)) AS ny
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT 2 * rank() OVER (ORDER BY nx)
           + count(*) OVER (PARTITION BY nx) - 1 AS rx,
         2 * rank() OVER (ORDER BY ny)
           + count(*) OVER (PARTITION BY ny) - 1 AS ry
  FROM daily
),
m AS (
  SELECT count(*) AS n, sum(rx) AS sx, sum(ry) AS sy,
         sum(rx * rx) AS sxx, sum(ry * ry) AS syy, sum(rx * ry) AS sxy
  FROM ranked
),
d AS (
  SELECT CAST(n AS BIGINT) AS n_days,
         CAST(n * sxy - sx * sy AS BIGINT) AS num,
         CAST(n * sxx - sx * sx AS BIGINT) AS den_x,
         CAST(n * syy - sy * sy AS BIGINT) AS den_y
  FROM m
)
SELECT n_days, num, den_x, den_y,
       CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END
            AS BIGINT) AS rho_sign,
       CAST((num::hugeint * num * 1000000) // (den_x::hugeint * den_y)
            AS bigint) AS rho2_ppm
FROM d
"""

  /** stats_ab_test: two-proportion z-test — the experimentation
    * primitive. Users split into variants by `user_id mod 2`
    * (deterministic assignment, as a real bucketing service would
    * hash); "conversion" is a heavy-purchaser flag (≥ 14 purchase
    * events, straddling the per-user median of ~13 so both outcomes
    * are populated). The graded statistic is z² of the pooled
    * two-proportion test in EXACT integer arithmetic — the algebraic
    * collapse `z² = (c_a·n_b − c_b·n_a)²·N / (n_a·n_b·C·(N−C))` needs
    * one decimal(38,0) division and no square root — plus the lift
    * sign, so significance (z² vs 3.84 for p<.05) and direction are
    * both bit-exact cross-engine. Completes the inference panel:
    * rank-sum (mannwhitney), trend (mann_kendall), drift (ks_test),
    * randomness (runs_test), proportions here.
    *
    * Scale: one keyed per-user rollup (map-side combinable), one 2-row
    * aggregate, one scalar reshape — nothing global, no windows.
    */
  def abTest(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .where(col("event_type") === "purchase")
      .groupBy("user_id").agg(count(lit(1)).as("n_purch"))
      .select((col("user_id") % 2).as("variant"),
        when(col("n_purch") >= 14, 1L).otherwise(0L).as("conv"))
      .groupBy("variant")
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
      .agg(max(when(col("variant") === 0, col("n"))).as("n_a"),
           max(when(col("variant") === 0, col("c"))).as("c_a"),
           max(when(col("variant") === 1, col("n"))).as("n_b"),
           max(when(col("variant") === 1, col("c"))).as("c_b"))
      .select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
        (col("c_a") * col("n_b") - col("c_b") * col("n_a")).as("d"),
        (col("n_a") + col("n_b")).as("nn"),
        (col("c_a") + col("c_b")).as("cc"))
      .select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
        expr("cast((cast(d AS decimal(38,0)) * d * nn * 1000000)" +
             " div (cast(n_a AS decimal(38,0)) * n_b * cc * (nn - cc))" +
             " AS bigint)").as("z2_ppm"),
        when(col("d") > 0, 1L).when(col("d") < 0, -1L).otherwise(0L)
          .as("lift_sign"))
  }

  /** stats_anova: one-way ANOVA — does order priority move basket size
    * (lineitem count per order) across the 5 priority classes? The F
    * statistic from the sums-of-squares identities, in EXACT fixed-point
    * arithmetic: per group collect (n, S=Σx, Q=Σx²), then with
    * A = Σ_g ⌊S_g²·10⁶ / n_g⌋ the between/within sums are
    * SSB_ppm = A − ⌊T²·10⁶/N⌋ and SSW_ppm = Q·10⁶ − A, and
    * F_ppm = ⌊SSB·(N−k)·10⁶ / (SSW·(k−1))⌋ — the common 10⁶ scale
    * cancels in the ratio. Every division is a floor of non-negative
    * integers (identical `div` vs `//` semantics cross-engine; SSB is
    * clamped at 0 against the few-ppm floor jitter Cauchy–Schwarz
    * leaves room for), decimal(38,0) guards the T² and F-numerator
    * products past bigint range. Completes the inference panel with the
    * k-group generalization of the two-sample tests (z², rank-sum, KS).
    *
    * Scale: one map-side-combinable per-order rollup, one shuffled join
    * to orders on the grouping key, one 5-row aggregate, one scalar
    * reshape — no windows, nothing driver-side.
    */
  def anova(spark: SparkSession, sfDir: String): DataFrame = {
    val x = Tables.lineitem(spark, sfDir)
      .groupBy("l_orderkey").agg(count(lit(1)).as("x"))
      .join(Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
    val g = x.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(col("x") * col("x")).as("q"))
    g.agg(count(lit(1)).as("k"), sum(col("n")).as("nn"),
        sum(col("s")).as("t"), sum(col("q")).as("qt"),
        sum(expr("(cast(s AS decimal(38,0)) * s * 1000000) div n")).as("a"))
      .select(col("k"), col("nn"),
        expr("a - (cast(t AS decimal(38,0)) * t * 1000000) div nn")
          .as("ssb_ppm"),
        expr("cast(cast(qt AS decimal(38,0)) * 1000000 - a AS bigint)")
          .as("ssw_ppm"))
      .select(col("k"), col("nn").as("n_total"),
        col("ssb_ppm"), col("ssw_ppm"),
        expr("cast((cast(greatest(ssb_ppm, 0) AS decimal(38,0)) * (nn - k)" +
          " * 1000000) div (cast(ssw_ppm AS decimal(38,0)) * (k - 1))" +
          " AS bigint)").as("f_ppm"))
  }

  /** stats_welch_ttest: Welch's unequal-variance two-sample t — the
    * default modern mean-comparison test, completing the inference panel
    * between the pooled z² (stats_ab_test) and the k-group F
    * (stats_anova). Per-user purchase counts, centered at the integer 14
    * (t is shift-invariant; centering keeps every product inside
    * decimal(38,0) two orders of magnitude past the gate scales — a
    * larger corpus re-centers/rescales the same way). Clearing all
    * denominators gives t² as a single exact integer ratio,
    *   t²·10⁶ = ⌊d²(n_a−1)(n_b−1)·10⁶ / (n_b²·ssd_a·(n_b−1)
    *            + n_a²·ssd_b·(n_a−1))⌋,  d = s_a·n_b − s_b·n_a,
    *            ssd_i = n_i·q_i − s_i²  (≥ 0 by Cauchy–Schwarz),
    * plus the direction sign, both bit-exact cross-engine. The
    * Welch–Satterthwaite df is emitted as a deterministic fixed-point
    * ESTIMATE (per-variant A_i = v_i/n_i ppm-floored before the ratio —
    * floors compound identically on both engines; the denominator is
    * clamped ≥ 1 against degenerate floors).
    *
    * Scale: one keyed per-user rollup, one 2-row aggregate, one scalar
    * reshape — the abTest shape exactly.
    */
  def welchTtest(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .where(col("event_type") === "purchase")
      .groupBy("user_id").agg(count(lit(1)).as("x0"))
      .select((col("user_id") % 2).as("variant"), (col("x0") - 14L).as("x"))
      .groupBy("variant")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(col("x") * col("x")).as("q"))
      .agg(max(when(col("variant") === 0, col("n"))).as("n_a"),
        max(when(col("variant") === 0, col("s"))).as("s_a"),
        max(when(col("variant") === 0, col("q"))).as("q_a"),
        max(when(col("variant") === 1, col("n"))).as("n_b"),
        max(when(col("variant") === 1, col("s"))).as("s_b"),
        max(when(col("variant") === 1, col("q"))).as("q_b"))
      .select(col("n_a"), col("n_b"), col("s_a"), col("q_a"), col("s_b"),
        col("q_b"),
        expr("cast(s_a AS decimal(38,0)) * n_b" +
          " - cast(s_b AS decimal(38,0)) * n_a").as("d"),
        expr("cast(n_a AS decimal(38,0)) * q_a" +
          " - cast(s_a AS decimal(38,0)) * s_a").as("ssd_a"),
        expr("cast(n_b AS decimal(38,0)) * q_b" +
          " - cast(s_b AS decimal(38,0)) * s_b").as("ssd_b"))
      .select(col("n_a"), col("n_b"),
        expr("cast((d * d * (n_a - 1) * (n_b - 1) * 1000000)" +
          " div (cast(n_b AS decimal(38,0)) * n_b * ssd_a * (n_b - 1)" +
          " + cast(n_a AS decimal(38,0)) * n_a * ssd_b * (n_a - 1))" +
          " AS bigint)").as("t2_ppm"),
        when(col("d") > 0, 1L).when(col("d") < 0, -1L).otherwise(0L)
          .as("lift_sign"),
        expr("cast((ssd_a * 1000000) div (cast(n_a AS decimal(38,0))" +
          " * n_a * (n_a - 1)) AS bigint)").as("a_a"),
        expr("cast((ssd_b * 1000000) div (cast(n_b AS decimal(38,0))" +
          " * n_b * (n_b - 1)) AS bigint)").as("a_b"))
      .select(col("n_a"), col("n_b"), col("t2_ppm"), col("lift_sign"),
        expr("cast(((a_a + a_b) * (a_a + a_b) * 1000)" +
          " div greatest(a_a * a_a div (n_a - 1)" +
          " + a_b * a_b div (n_b - 1), 1) AS bigint)").as("nu_milli"))
  }

  /** stats_power_prop: experiment sample-size planning — given the two
    * observed conversion rates from the stats_ab_test split, the
    * required per-arm n to detect the observed lift at α=.05 (two-sided)
    * with 80% power, via the standard pooled normal approximation
    * n = (z_{α/2}+z_β)²·(p₁q₁+p₂q₂)/d² (no square root in this form, so
    * it closes over exact integers: K = (1.959964+0.841621)² scaled to
    * 7,848,887 ppm, rates in ppm, one floor division; the denominator is
    * clamped ≥ 1 against a zero observed lift). Planning the NEXT
    * experiment from the last one's rates is the other half of the
    * experimentation workflow that stats_ab_test starts.
    *
    * Scale: identical shape to abTest — one per-user rollup, one 2-row
    * aggregate, one scalar reshape.
    */
  def powerProp(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .where(col("event_type") === "purchase")
      .groupBy("user_id").agg(count(lit(1)).as("n_purch"))
      .select((col("user_id") % 2).as("variant"),
        when(col("n_purch") >= 14, 1L).otherwise(0L).as("conv"))
      .groupBy("variant")
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
      .agg(max(when(col("variant") === 0, col("n"))).as("n_a"),
        max(when(col("variant") === 0, col("c"))).as("c_a"),
        max(when(col("variant") === 1, col("n"))).as("n_b"),
        max(when(col("variant") === 1, col("c"))).as("c_b"))
      .select(col("n_a"), col("n_b"),
        expr("(c_a * 1000000) div n_a").as("p1_ppm"),
        expr("(c_b * 1000000) div n_b").as("p2_ppm"))
      .select(col("n_a"), col("n_b"), col("p1_ppm"), col("p2_ppm"),
        (col("p1_ppm") - col("p2_ppm")).as("diff_ppm"))
      .select(col("n_a"), col("n_b"), col("p1_ppm"), col("p2_ppm"),
        col("diff_ppm"),
        expr("cast((7848887 * (cast(p1_ppm AS decimal(38,0))" +
          " * (1000000 - p1_ppm) + cast(p2_ppm AS decimal(38,0))" +
          " * (1000000 - p2_ppm)))" +
          " div (greatest(cast(diff_ppm AS decimal(38,0)) * diff_ppm, 1)" +
          " * 1000000) AS bigint)").as("n_required"))
  }

  val powerPropOracle: String = """
WITH pu AS (SELECT user_id, count(*) AS n_purch FROM events
            WHERE event_type = 'purchase' GROUP BY 1),
c AS (SELECT user_id % 2 AS variant,
             CASE WHEN n_purch >= 14 THEN 1 ELSE 0 END AS conv FROM pu),
g AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(conv) AS BIGINT) AS c FROM c GROUP BY 1),
w AS (SELECT max(CASE WHEN variant = 0 THEN n END) AS n_a,
             max(CASE WHEN variant = 0 THEN c END) AS c_a,
             max(CASE WHEN variant = 1 THEN n END) AS n_b,
             max(CASE WHEN variant = 1 THEN c END) AS c_b
      FROM g),
p AS (SELECT n_a, n_b,
             (c_a * 1000000) // n_a AS p1_ppm,
             (c_b * 1000000) // n_b AS p2_ppm
      FROM w)
SELECT n_a, n_b, p1_ppm, p2_ppm, p1_ppm - p2_ppm AS diff_ppm,
       CAST((7848887 * (p1_ppm::hugeint * (1000000 - p1_ppm)
                        + p2_ppm::hugeint * (1000000 - p2_ppm)))
            // (greatest((p1_ppm - p2_ppm)::hugeint
                         * (p1_ppm - p2_ppm), 1) * 1000000)
         AS BIGINT) AS n_required
FROM p
"""

  /** stats_logrank: two-group log-rank test — the survival-analysis
    * primitive (Mantel–Cox), absent from every other family. Each user's
    * "lifetime" is the day-span between their first and last event;
    * users whose last event precedes the corpus horizon minus 7 days are
    * churned (deaths), later ones censored — the standard right-censored
    * setup. At each distinct lifetime with ≥ 1 death the hypergeometric
    * observed/expected/variance terms accumulate in exact ppm
    * fixed-point (floor-per-term, all operands non-negative, decimal(38)
    * on the variance product), and the statistic is emitted as
    * χ²·10³ = ⌊(O₁·10⁶−E₁ppm)²·10³ / (Vppm·10⁶)⌋ plus its components —
    * bit-exact cross-engine, no normal-CDF needed.
    *
    * Scale: one per-user rollup (checkpointed, shared by the horizon
    * scalar and the lifetime reshape), one group-by on lifetime (≤ the
    * corpus's day span — 31 here), then the risk sets via a suffix-sum
    * window over those ≤31 rows. The corpus horizon is a driver scalar
    * — one combinable `agg(max)` on the per-user rollup folded back as
    * a literal (the graph_hits/stats_seasonality pattern) — so the
    * only unpartitioned window in the plan is the suffix window over
    * the ≤31-row lifetime table; at 100 TB that is O(days), never
    * O(users) or O(events) through one task.
    */
  def logrank(spark: SparkSession, sfDir: String): DataFrame = {
    val per0 = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .groupBy("user_id")
      .agg(min(col("us")).as("first_us"), max(col("us")).as("last_us"))
      .localCheckpoint() // horizon scalar + lifetime reshape share it
    val gmax = per0.agg(max(col("last_us"))).head.getLong(0)
    val per = per0
      .select((col("user_id") % 2).as("variant"),
        expr("(last_us - first_us) div 86400000000").as("dur"),
        when(col("last_us") < lit(gmax - 604800000000L), 1L)
          .otherwise(0L).as("death"))
    val byT = per.groupBy("dur").agg(
      sum(when(col("variant") === 0, col("death")).otherwise(0L)).as("d1"),
      sum(col("death")).as("d"),
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("c1"),
      count(lit(1)).as("c"))
    val suffix = Window.orderBy(col("dur"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    byT.select(col("dur"), col("d1"), col("d"),
        sum(col("c1")).over(suffix).as("n1"),
        sum(col("c")).over(suffix).as("n"))
      .where(col("d") >= 1)
      .agg(count(lit(1)).as("n_times"),
        sum(col("d1")).as("o1"),
        sum(expr("(d * n1 * 1000000) div n")).as("e1_ppm"),
        sum(expr("cast((cast(d AS decimal(38,0)) * n1 * (n - n1) * (n - d)" +
          " * 1000000) div (cast(n AS decimal(38,0)) * n" +
          " * greatest(n - 1, 1)) AS bigint)")).as("v_ppm"))
      .select(col("n_times"), col("o1"), col("e1_ppm"), col("v_ppm"),
        expr("cast(((cast(o1 AS decimal(38,0)) * 1000000 - e1_ppm)" +
          " * (cast(o1 AS decimal(38,0)) * 1000000 - e1_ppm) * 1000)" +
          " div greatest(cast(v_ppm AS decimal(38,0)) * 1000000, 1)" +
          " AS bigint)").as("chi2_milli"))
  }

  val logrankOracle: String = """
WITH u AS (SELECT user_id, min(epoch_us(ts)) AS first_us,
                  max(epoch_us(ts)) AS last_us
           FROM events GROUP BY 1),
g AS (SELECT user_id, first_us, last_us, max(last_us) OVER () AS gmax
      FROM u),
per AS (SELECT user_id % 2 AS variant,
               (last_us - first_us) // 86400000000 AS dur,
               CASE WHEN last_us < gmax - 604800000000 THEN 1 ELSE 0 END
                 AS death
        FROM g),
byt AS (SELECT dur,
               CAST(sum(CASE WHEN variant = 0 THEN death ELSE 0 END)
                    AS BIGINT) AS d1,
               CAST(sum(death) AS BIGINT) AS d,
               CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS c1,
               CAST(count(*) AS BIGINT) AS c
        FROM per GROUP BY 1),
risk AS (SELECT dur, d1, d,
                CAST(sum(c1) OVER (ORDER BY dur ROWS BETWEEN CURRENT ROW
                     AND UNBOUNDED FOLLOWING) AS BIGINT) AS n1,
                CAST(sum(c) OVER (ORDER BY dur ROWS BETWEEN CURRENT ROW
                     AND UNBOUNDED FOLLOWING) AS BIGINT) AS n
         FROM byt),
agg AS (SELECT CAST(count(*) AS BIGINT) AS n_times,
               CAST(sum(d1) AS BIGINT) AS o1,
               CAST(sum((d * n1 * 1000000) // n) AS BIGINT) AS e1_ppm,
               CAST(sum((d::hugeint * n1 * (n - n1) * (n - d) * 1000000)
                        // (n::hugeint * n * greatest(n - 1, 1)))
                    AS BIGINT) AS v_ppm
        FROM risk WHERE d >= 1)
SELECT n_times, o1, e1_ppm, v_ppm,
       CAST(((o1::hugeint * 1000000 - e1_ppm)
             * (o1::hugeint * 1000000 - e1_ppm) * 1000)
            // greatest(v_ppm::hugeint * 1000000, 1) AS BIGINT)
         AS chi2_milli
FROM agg
"""

  val welchTtestOracle: String = """
WITH pu AS (SELECT user_id, count(*) AS x0 FROM events
            WHERE event_type = 'purchase' GROUP BY 1),
c AS (SELECT user_id % 2 AS variant, CAST(x0 - 14 AS BIGINT) AS x FROM pu),
g AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s, CAST(sum(x * x) AS BIGINT) AS q
      FROM c GROUP BY 1),
w AS (SELECT max(CASE WHEN variant = 0 THEN n END) AS n_a,
             max(CASE WHEN variant = 0 THEN s END) AS s_a,
             max(CASE WHEN variant = 0 THEN q END) AS q_a,
             max(CASE WHEN variant = 1 THEN n END) AS n_b,
             max(CASE WHEN variant = 1 THEN s END) AS s_b,
             max(CASE WHEN variant = 1 THEN q END) AS q_b
      FROM g),
t AS (SELECT n_a, n_b,
             s_a::hugeint * n_b - s_b::hugeint * n_a AS d,
             n_a::hugeint * q_a - s_a::hugeint * s_a AS ssd_a,
             n_b::hugeint * q_b - s_b::hugeint * s_b AS ssd_b
      FROM w),
r AS (SELECT n_a, n_b,
             CAST((d * d * (n_a - 1) * (n_b - 1) * 1000000)
                  // (n_b::hugeint * n_b * ssd_a * (n_b - 1)
                      + n_a::hugeint * n_a * ssd_b * (n_a - 1))
                  AS BIGINT) AS t2_ppm,
             CASE WHEN d > 0 THEN 1 WHEN d < 0 THEN -1 ELSE 0 END AS lift_sign,
             CAST((ssd_a * 1000000)
                  // (n_a::hugeint * n_a * (n_a - 1)) AS BIGINT) AS a_a,
             CAST((ssd_b * 1000000)
                  // (n_b::hugeint * n_b * (n_b - 1)) AS BIGINT) AS a_b
      FROM t)
SELECT n_a, n_b, t2_ppm, CAST(lift_sign AS BIGINT) AS lift_sign,
       CAST(((a_a::hugeint + a_b) * (a_a::hugeint + a_b) * 1000)
            // greatest((a_a::hugeint * a_a) // (n_a - 1)
                + (a_b::hugeint * a_b) // (n_b - 1), 1) AS BIGINT)
         AS nu_milli
FROM r
"""

  val anovaOracle: String = """
WITH x AS (SELECT l_orderkey, count(*) AS x FROM lineitem GROUP BY 1),
j AS (SELECT o.o_orderpriority AS g, x.x
      FROM x JOIN orders o ON o.o_orderkey = x.l_orderkey),
gr AS (SELECT g, count(*) AS n, sum(x) AS s, sum(x * x) AS q
       FROM j GROUP BY 1),
t AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(s) AS BIGINT) AS t, CAST(sum(q) AS BIGINT) AS qt,
             CAST(sum((s::hugeint * s * 1000000) // n) AS BIGINT) AS a
      FROM gr),
f AS (SELECT k, nn,
             a - CAST((t::hugeint * t * 1000000) // nn AS BIGINT) AS ssb_ppm,
             CAST(qt::hugeint * 1000000 - a AS BIGINT) AS ssw_ppm
      FROM t)
SELECT k, nn AS n_total, ssb_ppm, ssw_ppm,
       CAST((greatest(ssb_ppm, 0)::hugeint * (nn - k) * 1000000)
            // (ssw_ppm::hugeint * (k - 1)) AS BIGINT) AS f_ppm
FROM f
"""

  val abTestOracle: String = """
WITH per AS (
  SELECT user_id % 2 AS variant,
         CASE WHEN count(*) >= 14 THEN 1 ELSE 0 END AS conv
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
g AS (SELECT variant, count(*) AS n, sum(conv) AS c FROM per GROUP BY 1),
w AS (
  SELECT CAST(max(CASE WHEN variant = 0 THEN n END) AS BIGINT) AS n_a,
         CAST(max(CASE WHEN variant = 0 THEN c END) AS BIGINT) AS c_a,
         CAST(max(CASE WHEN variant = 1 THEN n END) AS BIGINT) AS n_b,
         CAST(max(CASE WHEN variant = 1 THEN c END) AS BIGINT) AS c_b
  FROM g
),
d AS (SELECT *, c_a * n_b - c_b * n_a AS d, n_a + n_b AS nn,
             c_a + c_b AS cc
      FROM w)
SELECT n_a, c_a, n_b, c_b,
       CAST((d::hugeint * d * nn * 1000000)
            // (n_a::hugeint * n_b * cc * (nn - cc)) AS BIGINT) AS z2_ppm,
       CAST(CASE WHEN d > 0 THEN 1 WHEN d < 0 THEN -1 ELSE 0 END AS BIGINT)
         AS lift_sign
FROM d
"""

  /** stats_capture_recapture: Lincoln–Petersen population estimation —
    * "how many clicking users exist, estimated from two overlapping
    * observation windows" (the first 3 and last 3 days of the feed,
    * bounds derived from the data so a regenerated vintage keeps both
    * captures populated). `N̂ = n₁·n₂ div m` in pure integers, with the
    * true population alongside — the mark-recapture estimator used
    * whenever full enumeration is impossible (bot-traffic sizing,
    * rare-event populations) and its accuracy, graded.
    *
    * Scale: one keyed per-user rollup with two map-side-combinable
    * flags, one 1-row aggregate. The capture windows are metadata
    * scalars (two driver longs), not joins.
    */
  def captureRecapture(spark: SparkSession, sfDir: String): DataFrame = {
    val clicks = Tables.events(spark, sfDir)
      .where(col("event_type") === "click")
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .localCheckpoint()
    val b = clicks.agg(min(col("day")), max(col("day"))).head()
    val (lo, hi) = (b.getLong(0) + 3, b.getLong(1) - 2)
    clicks
      .groupBy("user_id")
      .agg(max(when(col("day") < lo, 1L).otherwise(0L)).as("c1"),
           max(when(col("day") >= hi, 1L).otherwise(0L)).as("c2"))
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
           sum(col("c1") * col("c2")).as("m"), count(lit(1)).as("n_true"))
      .select(col("n1"), col("n2"), col("m"), col("n_true"),
        expr("(n1 * n2) div m").as("n_est"))
  }

  val captureRecaptureOracle: String = """
WITH c AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day
  FROM events WHERE event_type = 'click'
),
b AS (SELECT min(day) + 3 AS lo, max(day) - 2 AS hi FROM c),
caps AS (
  SELECT user_id,
         max(CASE WHEN day < (SELECT lo FROM b) THEN 1 ELSE 0 END) AS c1,
         max(CASE WHEN day >= (SELECT hi FROM b) THEN 1 ELSE 0 END) AS c2
  FROM c GROUP BY user_id
)
SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
       CAST(sum(c1 * c2) AS BIGINT) AS m, count(*) AS n_true,
       CAST((sum(c1) * sum(c2)) // sum(c1 * c2) AS BIGINT) AS n_est
FROM caps
"""

  /** stats_diff_in_diff: the difference-in-differences estimator — the
    * 2×2 (variant × pre/post) design every observational launch
    * analysis runs: DiD = (ȳ_B,post − ȳ_B,pre) − (ȳ_A,post − ȳ_A,pre)
    * over per-purchase value, with the period split at the feed's
    * midpoint day (data-derived scalar). All four cell means are
    * cleared to one decimal(38,0) fraction over the common denominator
    * n₁n₂n₃n₄, divided sign-safely (|num| then re-signed — Spark `div`
    * truncates, DuckDB `//` floors), so the causal estimate is graded
    * bit-exact along with every cell's n and sum.
    *
    * Scale: one map-side-combinable 4-cell aggregate + a scalar
    * reshape; nothing else.
    */
  def diffInDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .where(col("event_type") === "purchase")
      .select((col("user_id") % 2).as("variant"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        floor(col("value") * 100 + lit(0.5)).cast("bigint").as("cents"))
      .localCheckpoint()
    val b = ev.agg(min(col("day")), max(col("day"))).head()
    val mid = (b.getLong(0) + b.getLong(1)) / 2
    def cell(v: Int, post: Boolean, f: String) = {
      val in = col("variant") === v &&
        (if (post) col("day") >= mid else col("day") < mid)
      val x = if (f == "n") when(in, 1L).otherwise(0L)
              else when(in, col("cents")).otherwise(0L)
      sum(x).as(s"${f}_${if (v == 0) "a" else "b"}_${if (post) "post" else "pre"}")
    }
    ev.agg(cell(0, false, "n"), cell(0, false, "s"),
           cell(0, true, "n"), cell(0, true, "s"),
           cell(1, false, "n"), cell(1, false, "s"),
           cell(1, true, "n"), cell(1, true, "s"))
      .select(col("*"),
        expr("cast(s_b_post AS decimal(38,0)) * n_b_pre * n_a_post * n_a_pre" +
             " - cast(s_b_pre AS decimal(38,0)) * n_b_post * n_a_post * n_a_pre" +
             " - cast(s_a_post AS decimal(38,0)) * n_a_pre * n_b_post * n_b_pre" +
             " + cast(s_a_pre AS decimal(38,0)) * n_a_post * n_b_post * n_b_pre")
          .as("num"),
        expr("cast(n_a_pre AS decimal(38,0)) * n_a_post * n_b_pre * n_b_post")
          .as("den"))
      .select(col("n_a_pre"), col("s_a_pre"), col("n_a_post"), col("s_a_post"),
        col("n_b_pre"), col("s_b_pre"), col("n_b_post"), col("s_b_post"),
        expr("cast((abs(num) * 1000000) div den AS bigint)" +
             " * if(num < 0, -1L, 1L)").as("did_micros"))
  }

  val diffInDiffOracle: String = """
WITH ev AS (
  SELECT user_id % 2 AS variant, epoch_us(ts) // 86400000000 AS day,
         cast(floor(value * 100 + 0.5) AS bigint) AS cents
  FROM events WHERE event_type = 'purchase'
),
b AS (SELECT (min(day) + max(day)) // 2 AS mid FROM ev),
cells AS (
  SELECT
    CAST(sum(CASE WHEN variant = 0 AND day < (SELECT mid FROM b) THEN 1 ELSE 0 END) AS BIGINT) AS n_a_pre,
    CAST(sum(CASE WHEN variant = 0 AND day < (SELECT mid FROM b) THEN cents ELSE 0 END) AS BIGINT) AS s_a_pre,
    CAST(sum(CASE WHEN variant = 0 AND day >= (SELECT mid FROM b) THEN 1 ELSE 0 END) AS BIGINT) AS n_a_post,
    CAST(sum(CASE WHEN variant = 0 AND day >= (SELECT mid FROM b) THEN cents ELSE 0 END) AS BIGINT) AS s_a_post,
    CAST(sum(CASE WHEN variant = 1 AND day < (SELECT mid FROM b) THEN 1 ELSE 0 END) AS BIGINT) AS n_b_pre,
    CAST(sum(CASE WHEN variant = 1 AND day < (SELECT mid FROM b) THEN cents ELSE 0 END) AS BIGINT) AS s_b_pre,
    CAST(sum(CASE WHEN variant = 1 AND day >= (SELECT mid FROM b) THEN 1 ELSE 0 END) AS BIGINT) AS n_b_post,
    CAST(sum(CASE WHEN variant = 1 AND day >= (SELECT mid FROM b) THEN cents ELSE 0 END) AS BIGINT) AS s_b_post
  FROM ev
),
d AS (
  SELECT *,
    s_b_post::hugeint * n_b_pre * n_a_post * n_a_pre
      - s_b_pre::hugeint * n_b_post * n_a_post * n_a_pre
      - s_a_post::hugeint * n_a_pre * n_b_post * n_b_pre
      + s_a_pre::hugeint * n_a_post * n_b_post * n_b_pre AS num,
    n_a_pre::hugeint * n_a_post * n_b_pre * n_b_post AS den
  FROM cells
)
SELECT n_a_pre, s_a_pre, n_a_post, s_a_post,
       n_b_pre, s_b_pre, n_b_post, s_b_post,
       CAST((abs(num) * 1000000) // den AS BIGINT)
         * (CASE WHEN num < 0 THEN -1 ELSE 1 END) AS did_micros
FROM d
"""

  /** stats_simpson: aggregation-reversal (Simpson's paradox) audit —
    * does the pooled association between quantity and line value point
    * the same way as the per-group associations? The graded signal is
    * the SIGN of the covariance numerator `n·Σxy − Σx·Σy` (exact
    * integers — no variance normalization needed for a sign) pooled
    * and per return flag, plus how many groups disagree with the
    * pooled sign. A non-zero disagreement count is the "don't trust
    * the pooled number" flag every metrics review needs before acting
    * on an aggregate trend.
    *
    * Scale: one combinable moment pass per group + one 3-row rollup;
    * the pooled moments are the group moments summed — nothing is
    * computed twice.
    */
  def simpson(spark: SparkSession, sfDir: String): DataFrame = {
    val m = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag").as("g"),
        floor(col("l_quantity")).cast("bigint").as("x"),
        cents(col("l_extendedprice")).as("y"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
           sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"))
      .localCheckpoint() // pooled row reuses the group moments
    val grp = m.select(col("g"), col("n"),
      (col("n").cast("decimal(38,0)") * col("sxy")
        - col("sx").cast("decimal(38,0)") * col("sy")).as("cov_num"))
    val pooled = m.agg(sum(col("n")).as("n"), sum(col("sx")).as("sx"),
        sum(col("sy")).as("sy"), sum(col("sxy")).as("sxy"))
      .select(lit("_pooled").as("g"), col("n"),
        (col("n").cast("decimal(38,0)") * col("sxy")
          - col("sx").cast("decimal(38,0)") * col("sy")).as("cov_num"))
    val signed = grp.unionAll(pooled)
      .select(col("g"), col("n"),
        when(col("cov_num") > 0, 1L).when(col("cov_num") < 0, -1L)
          .otherwise(0L).as("cov_sign"))
      .localCheckpoint()
    val pooledSign = signed.where(col("g") === "_pooled")
      .head().getAs[Long]("cov_sign")
    signed
      .withColumn("disagrees_with_pooled",
        (col("g") =!= "_pooled" && col("cov_sign") =!= pooledSign)
          .cast("long"))
      .orderBy("g")
  }

  val simpsonOracle: String = """
WITH m AS (
  SELECT l_returnflag AS g, count(*) AS n,
         sum(cast(floor(l_quantity) AS bigint)) AS sx,
         sum(cast(floor(l_extendedprice * 100 + 0.5) AS bigint)) AS sy,
         sum(cast(floor(l_quantity) AS bigint)
             * cast(floor(l_extendedprice * 100 + 0.5) AS bigint)) AS sxy
  FROM lineitem GROUP BY 1
),
rows_ AS (
  SELECT g, CAST(n AS BIGINT) AS n,
         CAST(n * sxy - sx * sy AS hugeint) AS cov_num
  FROM m
  UNION ALL
  SELECT '_pooled', CAST(sum(n) AS BIGINT),
         sum(n)::hugeint * sum(sxy) - sum(sx)::hugeint * sum(sy)
  FROM m
),
s AS (
  SELECT g, n,
         CAST(CASE WHEN cov_num > 0 THEN 1 WHEN cov_num < 0 THEN -1
              ELSE 0 END AS BIGINT) AS cov_sign
  FROM rows_
),
p AS (SELECT cov_sign AS ps FROM s WHERE g = '_pooled')
SELECT g, n, cov_sign,
       CAST(CASE WHEN g <> '_pooled' AND cov_sign <> (SELECT ps FROM p)
            THEN 1 ELSE 0 END AS BIGINT) AS disagrees_with_pooled
FROM s ORDER BY g
"""

  val all: Seq[Query] = Seq(
    Query("stats_simpson", simpson, simpsonOracle),
    Query("stats_diff_in_diff", diffInDiff, diffInDiffOracle),
    Query("stats_capture_recapture", captureRecapture, captureRecaptureOracle),
    Query("stats_ab_test", abTest, abTestOracle),
    Query("stats_anova", anova, anovaOracle),
    Query("stats_welch_ttest", welchTtest, welchTtestOracle),
    Query("stats_power_prop", powerProp, powerPropOracle),
    Query("stats_logrank", logrank, logrankOracle),
    Query("stats_spearman", spearman, spearmanOracle),
    Query("stats_theilsen", theilSen, theilSenOracle),
    Query("stats_mann_kendall", mannKendall, mannKendallOracle),
    Query("stats_seasonality", seasonality, seasonalityOracle),
    Query("stats_pareto_front", paretoFront, paretoFrontOracle),
    Query("stats_runs_test", runsTest, runsTestOracle),
    Query("stats_bootstrap_ci", bootstrapCi, bootstrapCiOracle),
    Query("q52_attribution", attribution, attributionOracle),
    Query("stats_autocorr", autocorr, autocorrOracle),
    Query("stats_winsorized", winsorized, winsorizedOracle),
    Query("stats_ks_test", ksTest, ksTestOracle),
    Query("stats_mannwhitney", mannWhitney, mannWhitneyOracle),
    Query("stats_cusum", cusum, cusumOracle),
    Query("stats_benford", benford, benfordOracle),
    Query("stats_gini_concentration", giniConcentration, giniConcentrationOracle),
    Query("stats_markov_transitions", markovTransitions, markovTransitionsOracle),
    Query("stats_chi2", chi2, chi2Oracle),
    Query("q51_decile_profile", decileProfile, decileProfileOracle),
    Query("q50_mad_robust", madRobust, madRobustOracle),
    Query("q45_anomaly", anomaly, anomalyOracle),
    Query("q44_profile", profile, profileOracle),
    Query("q29_stats_moments", statsMoments, statsMomentsOracle),
    Query("q30_hist_equiwidth", histEquiWidth, histEquiWidthOracle),
    Query("q31_funnel", funnel, funnelOracle),
    Query("q32_retention", retention, retentionOracle),
    Query("q33_scd2", scd2, scd2Oracle),
  )
}
