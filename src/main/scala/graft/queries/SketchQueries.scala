package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.KmvSketch

/** Sketch / approximate aggregation — the cardinality and quantile
  * estimators a 100 TB profiling pass runs where exact answers would
  * shuffle every distinct value.
  *
  * Two grading strategies, because approximate results need care at an
  * exact-hash gate:
  *
  *  - `sketch_kmv_distinct`: a sketch DESIGNED to be cross-engine
  *    deterministic — KMV over md5-derived 56-bit hashes (see
  *    [[graft.functions.KmvSketch]]). DuckDB reaches the identical
  *    integer estimate from "k-th smallest distinct hash", so the gate
  *    is a full exact hash match on an approximate algorithm.
  *  - `sketch_hll_gate` / `sketch_quantile_gate`: Spark's own binary
  *    sketches (HLL++, KLL-style percentile_approx) cannot be
  *    reproduced by another engine; instead the query emits the EXACT
  *    value alongside a boolean "sketch within tolerance" verdict, and
  *    the oracle asserts the exact value and `TRUE`. The accuracy
  *    claim itself is what's graded.
  */
object SketchQueries {

  private val KmvK = 128

  /** 56-bit md5-derived hash of a string column — the same on both
    * engines (`conv(hex)` ⇄ `'0x…'::bigint`), reused from the
    * pipe_sample_mix pattern with 14 hex chars for KMV headroom.
    */
  private def h56(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(c.cast("string")), 1, 14), 16, 10).cast("bigint")

  /** Distinct users per event type, exactly and via the KMV sketch.
    * One aggregation: the sketch partial-aggregates map-side into ≤ k
    * longs per group; `countDistinct` rides the same shuffle (Spark
    * plans it as the expand + two-phase distinct aggregate). At scale
    * you would drop the exact column and keep only the sketch — it is
    * here so the gate also pins the sketch's accuracy against truth.
    */
  def kmvDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val kmv = udaf(new KmvSketch(KmvK))
    Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id"),
              h56(col("user_id")).as("h"))
      .groupBy("event_type")
      .agg(kmv(col("h")).as("kmv_distinct"),
           countDistinct(col("user_id")).as("n_exact"))
      .orderBy("event_type")
  }

  /** DuckDB mirror of the KMV estimator: k-th smallest distinct hash
    * via a rank window. `(k-1) * 2^56` stays in int64 for k = 128.
    */
  val kmvOracle: String = s"""
WITH h AS (
  SELECT DISTINCT event_type,
         cast('0x' || substr(md5(user_id::varchar), 1, 14) AS bigint) AS h
  FROM events
),
ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
         count(*) OVER (PARTITION BY event_type) AS nh
  FROM h
),
kth AS (
  SELECT event_type, max(nh) AS nh,
         max(CASE WHEN rn = $KmvK THEN h END) AS hk
  FROM ranked GROUP BY event_type
),
exact AS (
  SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events GROUP BY 1
)
SELECT k.event_type,
       cast(CASE WHEN k.nh < $KmvK THEN k.nh
                 ELSE (${KmvK - 1} * ${1L << 56}) // k.hk END AS bigint)
         AS kmv_distinct,
       e.n_exact
FROM kth k JOIN exact e ON e.event_type = k.event_type
ORDER BY k.event_type
"""

  /** HLL++ accuracy gate: `approx_count_distinct` at rsd = 0.02 must
    * land within 10% (5 sigma) of the exact per-group count. The
    * oracle emits the exact counts and `TRUE` — a hash match means the
    * sketch really was inside its advertised bound on this data.
    * Integer tolerance arithmetic (`abs * 10 <= exact`), no float
    * boundary in the gate.
    */
  def hllGate(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.02).as("hll"),
           countDistinct(col("user_id")).as("n_exact"))
      .select(col("event_type"), col("n_exact"),
              (abs(col("hll") - col("n_exact")) * lit(10L) <= col("n_exact"))
                .as("hll_within_10pct"))
      .orderBy("event_type")

  val hllGateOracle: String = """
SELECT event_type, count(DISTINCT user_id) AS n_exact,
       TRUE AS hll_within_10pct
FROM events GROUP BY event_type ORDER BY event_type
"""

  /** percentile_approx accuracy gate, graded on RANK rather than value:
    * the approximate median of o_totalprice per order priority must sit
    * at an exact rank within [0.49, 0.51] of its group. Rank is the
    * guarantee percentile_approx actually makes (≤ 1/accuracy rank
    * error — 1e-4 at accuracy 10000), so the gate is robust to value
    * gaps in the distribution, and integer (`100 * cnt_le` vs `49/51 *
    * n`) so there is no float boundary.
    */
  def quantileGate(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val approx = o.groupBy("o_orderpriority")
      .agg(expr("percentile_approx(o_totalprice, 0.5, 10000)").as("p50a"),
           count(lit(1)).as("n"))
    o.join(broadcast(approx), "o_orderpriority")
      .groupBy(col("o_orderpriority"))
      .agg(max(col("n")).as("n"),
           sum(when(col("o_totalprice") <= col("p50a"), 1L).otherwise(0L))
             .as("cnt_le"))
      .select(col("o_orderpriority"), col("n"),
              (col("cnt_le") * 100 >= col("n") * 49 &&
               col("cnt_le") * 100 <= col("n") * 51).as("p50_rank_ok"))
      .orderBy("o_orderpriority")
  }

  val quantileGateOracle: String = """
SELECT o_orderpriority, count(*) AS n, TRUE AS p50_rank_ok
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

  /** Q-digest mergeable quantile sketch ([[graft.functions.QDigest]])
    * graded on its DETERMINISTIC rank guarantee — the engine-own
    * counterpart of `sketch_quantile_gate` (which gates Spark's
    * engine-private percentile_approx): universe = whole dollars of
    * l_extendedprice (< 2^17), k = 1024, so every internal node holds
    * ≤ n/k mass and any estimate's true rank sits within
    * levels/k = 1.66% of the requested φ — graded at 5% slack, plus a
    * post-compress state-size cap. The cap grades the claim that
    * matters (state is Θ(k), independent of the number of DISTINCT
    * values): measured 5,648 nodes at sf0.01 (vs ~54k distinct
    * pre-compress leaves) and under 3k at sf0.1 — the constant in
    * front of k is distribution-dependent (the paper's 3k assumes the
    * idealized charging argument), so the gate caps at 8k. The sketch value itself depends on the merge tree (counts
    * promote differently per partitioning), so the gate grades the
    * GUARANTEE, not the estimate — like `dedup_ann_recall`'s recall
    * floor.
    *
    * ONE distributed pass (VERDICT r9 #6 folded the old second
    * exact-rank aggregation + checkpoint away): the same aggregation
    * that builds the digest also collects the frequency table itself —
    * BOUNDED by the value universe (≤ 2^17 ≈ 131k (v, w) pairs, ~2 MB,
    * independent of corpus size) — and the exact-rank gate columns are
    * computed on the driver from it (integer sums, order-independent,
    * same collect-bounded discipline as the 8-row k-means seed).
    */
  def qdigestQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    val vals = Tables.lineitem(spark, sfDir)
      .select(floor(col("l_extendedprice")).cast("long").as("v"))
    val qd = new graft.functions.QDigest(17, 1024)
    val qdU = udaf(qd,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Long)]())
    // Feed the digest WEIGHTED from a map-side-combined pre-aggregation
    // — the sketch's reduce then runs once per distinct dollar value
    // per partition, not once per corpus row.
    val weighted = vals.groupBy("v").agg(count(lit(1)).as("w"))
    val row = weighted.agg(
      qdU(col("v"), col("w")).as("r"),
      collect_list(struct(col("v"), col("w"))).as("freq")).collect()(0)
    val r = row.getSeq[Long](0)
    val freq = row.getSeq[org.apache.spark.sql.Row](1)
      .map(x => (x.getLong(0), x.getLong(1)))
    val n = freq.iterator.map(_._2).sum
    val est = r.slice(1, 6) // value estimates for φ = 1,25,50,75,99 %
    val nNodes = r(6) // layout: n, 5 estimates, node count
    val phis = Seq(1, 25, 50, 75, 99)
    // With duplicates the guarantee is on the estimate's rank INTERVAL
    // [count(<e), count(≤e)] intersecting φ ± slack (a point check is
    // unsatisfiable when one value carries > 2·slack of the mass).
    val oks = phis.zip(est).map { case (p, e) =>
      val lt = freq.iterator.filter(_._1 < e).map(_._2).sum
      val le = freq.iterator.filter(_._1 <= e).map(_._2).sum
      lt * 100 <= n * (p + 5) && le * 100 >= n * (p - 5)
    }
    spark.range(1).select(
      Seq(lit(n).as("n_rows")) ++
      phis.zip(oks).map { case (p, ok) => lit(ok).as(f"ok_q$p%02d") } ++
      Seq(lit(nNodes <= 8L * 1024L).as("state_bounded")): _*)
  }

  val qdigestOracle: String = """
SELECT count(*) AS n_rows,
       TRUE AS ok_q01, TRUE AS ok_q25, TRUE AS ok_q50,
       TRUE AS ok_q75, TRUE AS ok_q99, TRUE AS state_bounded
FROM lineitem
"""

  /** Count-min sketch heavy hitters: 4 hash rows × 1024 buckets of
    * plain counters (built with ONE map-side-combinable aggregation
    * over a 4× narrow expansion — constant 4 KiB-ish state however
    * many distinct users exist), probed for the top-10 users; the
    * estimate is the min over the 4 bucket counters, never below the
    * true count. Like KMV, the sketch is cross-engine deterministic
    * (md5-derived bucket hashes, integer counters), so the gate
    * hash-matches the ESTIMATES exactly — and `cms_never_under` pins
    * the one-sided error guarantee. At 100 TB the frequency table this
    * replaces (groupBy user_id) shuffles every distinct key; the CMS
    * shuffles 4096 counters.
    */
  def cmsHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    val W = 1024
    val js = array((0 until 4).map(lit): _*)
    def bucket(j: org.apache.spark.sql.Column, key: org.apache.spark.sql.Column) =
      pmod(conv(substring(md5(concat(j, lit("#"), key)), 1, 14), 16, 10)
        .cast("bigint"), lit(W.toLong))
    val ev = Tables.events(spark, sfDir).select(col("user_id"))
    val cms = ev.select(explode(js).as("j"), col("user_id"))
      .select(col("j"), bucket(col("j"), col("user_id")).as("b"))
      .groupBy("j", "b").agg(count(lit(1)).as("c"))
    val top = ev.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("user_id")).limit(10)
    top.select(col("user_id"), col("n_exact"), explode(js).as("j"))
      .select(col("user_id"), col("n_exact"), col("j"),
              bucket(col("j"), col("user_id")).as("b"))
      .join(broadcast(cms), Seq("j", "b"))
      .groupBy("user_id", "n_exact")
      .agg(min(col("c")).as("n_cms"))
      .select(col("user_id"), col("n_exact"), col("n_cms"),
              (col("n_cms") >= col("n_exact")).as("cms_never_under"))
      .orderBy(col("n_exact").desc, col("user_id"))
  }

  val cmsOracle: String = """
WITH pairs AS (
  SELECT user_id, t.j,
         cast('0x' || substr(md5(t.j || '#' || user_id), 1, 14) AS bigint)
           % 1024 AS b
  FROM events, unnest([0, 1, 2, 3]) AS t(j)
),
cms AS (SELECT j, b, count(*) AS c FROM pairs GROUP BY j, b),
top AS (
  SELECT user_id, count(*) AS n_exact FROM events GROUP BY user_id
  ORDER BY n_exact DESC, user_id LIMIT 10
),
probes AS (
  SELECT DISTINCT t.user_id, t.n_exact, p.j, p.b
  FROM top t JOIN pairs p ON p.user_id = t.user_id
)
SELECT p.user_id, p.n_exact, min(c.c) AS n_cms,
       (min(c.c) >= p.n_exact) AS cms_never_under
FROM probes p JOIN cms c ON c.j = p.j AND c.b = p.b
GROUP BY p.user_id, p.n_exact
ORDER BY n_exact DESC, user_id
"""

  /** HLL sketch MERGEABILITY (Apache DataSketches via Spark's
    * hll_sketch_agg / hll_union_agg): per-event-type sketches built
    * independently, then UNIONED — and the union's estimate must equal
    * the estimate of a sketch built over the whole table in one pass.
    * That equality is the property that makes 100 TB rollup tables
    * work: persist small per-partition sketch blobs, answer any
    * coarser-grained distinct-count by merging blobs instead of
    * rescanning raw data. The union's registers are bit-identical to
    * the one-pass sketch's (max per bucket — order- and partition-
    * independent), but its ESTIMATE is not: DataSketches reads a
    * directly-built sketch through the HIP estimator and a merged one
    * through the composite estimator (HIP is invalidated by
    * out-of-order merging), so the two reported values diverge
    * sub-percent once cardinality leaves exact list/set mode —
    * observed at sf0.1 (n=1500, HLL mode), invisible at sf0.01. A
    * 1-input union doesn't help (DataSketches copies it, HIP intact).
    * The graded contract is therefore estimator-honest: the merged
    * estimate within 1% of the direct estimate (far tighter than
    * either's 1.6% rse vs truth), plus the direct estimate within 5%
    * of the exact count.
    */
  def hllUnion(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    // One grouping-sets pass builds the per-type sketches AND the
    // whole-table sketch; a second re-aggregation unions the per-type
    // blobs. No join anywhere — sketch mergeability composed with the
    // Expand operator.
    val sk = ev
      .groupingSets(Seq(Seq(col("event_type")), Seq()), col("event_type"))
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"),
           countDistinct(col("user_id")).as("nd"),
           grouping(col("event_type")).as("g"))
    sk.agg(
        expr("hll_sketch_estimate(hll_union_agg(CASE WHEN g = 0 THEN sk END))")
          .as("est_merged"),
        expr("hll_sketch_estimate(first(CASE WHEN g = 1 THEN sk END, true))")
          .as("est_whole"),
        max(when(col("g") === 1, col("nd"))).as("n_exact"))
      .select(col("n_exact"),
        (abs(col("est_whole") - col("est_merged")) * 100 <= col("est_whole"))
          .as("merge_within_1pct"),
        (abs(col("est_whole") - col("n_exact")) * 20 <= col("n_exact"))
          .as("hll_within_5pct"))
  }

  val hllUnionOracle: String = """
SELECT count(DISTINCT user_id) AS n_exact,
       TRUE AS merge_within_1pct, TRUE AS hll_within_5pct
FROM events
"""

  /** sketch_theta_intersect: set-INTERSECTION cardinality from two
    * bounded sketches — the audience-overlap estimator ("how many users
    * both clicked and viewed") that KMV/HLL alone cannot answer
    * (they only union well). Theta-sketch recipe over the same 56-bit
    * md5 hash space as [[kmvDistinct]]: per set keep the k smallest
    * distinct hashes and θ = k-th smallest (2⁵⁶ when |set| < k);
    * θ∩ = min(θ_A, θ_B); the intersection SAMPLE is the common hashes
    * below θ∩, and the estimate scales the sample by the kept fraction:
    * `|sample| · 2⁵⁶ / θ∩` (decimal(38) product — `128·2⁵⁶ = 2⁶³`
    * overflows int64 by one bit). The exact intersection rides along to
    * pin accuracy, and θ/sample-size are emitted so the estimate is
    * auditable.
    *
    * Scale: sketch construction here is a rank window per set over the
    * DISTINCT hashes — one shuffle per set, same cost class as the
    * exact countDistinct it replaces at k→∞. The production path at
    * 100 TB extends [[graft.functions.KmvSketch]] to emit (θ, hash
    * array) so the k-min selection partial-aggregates map-side into
    * ≤ k longs per partition instead of sorting; the estimator
    * arithmetic — what this query grades — is identical.
    */
  def thetaIntersect(spark: SparkSession, sfDir: String): DataFrame = {
    val k = KmvK
    val full = lit(1L << 56)
    val hs = Tables.events(spark, sfDir)
      .where(col("event_type").isin("click", "view"))
      .select(col("event_type"), col("user_id"), h56(col("user_id")).as("h"))
    val ranked = hs.select("event_type", "h").distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy("h")))
      .withColumn("nh", count(lit(1)).over(Window.partitionBy("event_type")))
    val theta = ranked.groupBy("event_type")
      .agg(max(when(col("rn") === k, col("h"))).as("hk"),
           max(col("nh")).as("nh"))
      .select(when(col("nh") < k, full).otherwise(col("hk")).as("th"))
      .agg(min(col("th")).as("theta"))
    val a = ranked.where(col("event_type") === "click" && col("rn") <= k)
      .select("h")
    val b = ranked.where(col("event_type") === "view" && col("rn") <= k)
      .select("h")
    val sample = a.join(b, "h").crossJoin(theta)
      .where(col("h") < col("theta"))
      .groupBy("theta").agg(count(lit(1)).as("n_sample"))
    val exact = hs.select("user_id", "event_type").distinct()
      .groupBy("user_id").agg(count(lit(1)).as("nt"))
      .where(col("nt") === 2)
      .agg(count(lit(1)).as("n_exact"))
    sample.crossJoin(exact)
      .select(col("n_sample"), col("theta"),
        expr(s"cast((cast(n_sample AS decimal(19,0)) * ${1L << 56}L)" +
             " div theta AS bigint)").as("est_intersect"),
        col("n_exact"))
  }

  val thetaIntersectOracle: String = s"""
WITH h AS (
  SELECT DISTINCT event_type,
         cast('0x' || substr(md5(user_id::varchar), 1, 14) AS bigint) AS h
  FROM events WHERE event_type IN ('click', 'view')
),
ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
         count(*) OVER (PARTITION BY event_type) AS nh
  FROM h
),
theta AS (
  SELECT min(CASE WHEN nh < $KmvK THEN ${1L << 56}
                  ELSE hk END) AS theta
  FROM (SELECT event_type, max(nh) AS nh,
               max(CASE WHEN rn = $KmvK THEN h END) AS hk
        FROM ranked GROUP BY event_type)
),
sample AS (
  SELECT t.theta, count(*) AS n_sample
  FROM ranked a JOIN ranked b
    ON a.h = b.h AND a.event_type = 'click' AND b.event_type = 'view'
   AND a.rn <= $KmvK AND b.rn <= $KmvK
  CROSS JOIN theta t
  WHERE a.h < t.theta
  GROUP BY t.theta
),
exact AS (
  SELECT count(*) AS n_exact FROM (
    SELECT user_id FROM (
      SELECT DISTINCT user_id, event_type FROM events
      WHERE event_type IN ('click', 'view'))
    GROUP BY user_id HAVING count(*) = 2)
)
SELECT s.n_sample, s.theta,
       cast((s.n_sample::hugeint * ${1L << 56}) // s.theta AS bigint)
         AS est_intersect,
       e.n_exact
FROM sample s CROSS JOIN exact e
"""

  /** sketch_bloom_fp: Bloom-filter false-positive audit with fully
    * deterministic hashing — build a 2¹⁶-bit, k=3 filter over the
    * customer keyspace, probe it with keys GUARANTEED absent
    * (orderkeys shifted past any custkey), and grade the exact
    * false-positive count and rate. Spark's own runtime bloom pruning
    * (q37_bloom_join) is engine-internal and unauditable cross-engine;
    * this pins the sketch's CONTRACT — zero false negatives by
    * construction, false positives counted exactly — with hashes both
    * engines compute identically: `h_i(x) = ((a_i·x + b_i) mod
    * 2147483647) mod 2¹⁶` (products ≤ 2³¹·|keys| stay in int64).
    *
    * Scale: the filter is materialized as a DISTINCT (hash-position)
    * table — ≤ m rows regardless of build size — and probing is one
    * equi-join of the probes' k positions against it (here a broadcast:
    * 65536 rows ≪ any threshold), counting probes with all k hit. At
    * 100 TB both sides are one scan each; the m-row bitmap table is
    * the shuffle-free shared asset.
    */
  def bloomFp(spark: SparkSession, sfDir: String): DataFrame = {
    val m = 65536L
    val p = 2147483647L
    val as = Seq(2654435761L % p, 2246822519L % p, 3266489917L % p)
    val bs = Seq(1013904223L, 374761393L, 668265263L)
    def positions(key: org.apache.spark.sql.Column) =
      array(as.zip(bs).map { case (a, b) =>
        pmod(pmod(key * lit(a) + lit(b), lit(p)), lit(m))
      }: _*)
    val bits = Tables.customer(spark, sfDir)
      .select(explode(positions(col("c_custkey"))).as("pos"))
      .distinct()
    val probes = Tables.orders(spark, sfDir)
      .select((col("o_orderkey") + lit(100000000L)).as("k"))
      .select(col("k"), explode(positions(col("k"))).as("pp"))
    probes
      .join(broadcast(bits), probes("pp") === bits("pos"), "left")
      .groupBy("k")
      .agg(sum(when(col("pos").isNotNull, 1L).otherwise(0L)).as("hits"))
      .agg(count(lit(1)).as("n_probes"),
           sum(when(col("hits") === 3, 1L).otherwise(0L)).as("n_fp"))
      .select(lit(65536L).as("m_bits"), lit(3L).as("k_hashes"),
        col("n_probes"), col("n_fp"),
        expr("(n_fp * 1000000) div n_probes").as("fp_ppm"))
  }

  val bloomFpOracle: String = """
WITH bits AS (
  SELECT DISTINCT pos FROM (
    SELECT ((c_custkey * a.a + a.b) % 2147483647) % 65536 AS pos
    FROM customer,
         (VALUES (2654435761 % 2147483647, 1013904223),
                 (2246822519 % 2147483647, 374761393),
                 (3266489917 % 2147483647, 668265263)) AS a(a, b)
  )
),
probes AS (
  SELECT o_orderkey + 100000000 AS k,
         (((o_orderkey + 100000000) * a.a + a.b) % 2147483647) % 65536 AS pp
  FROM orders,
       (VALUES (2654435761 % 2147483647, 1013904223),
               (2246822519 % 2147483647, 374761393),
               (3266489917 % 2147483647, 668265263)) AS a(a, b)
),
hits AS (
  SELECT k, sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS hits
  FROM probes p LEFT JOIN bits b ON b.pos = p.pp
  GROUP BY k
)
SELECT CAST(65536 AS BIGINT) AS m_bits, CAST(3 AS BIGINT) AS k_hashes,
       count(*) AS n_probes,
       CAST(sum(CASE WHEN hits = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_fp,
       CAST((sum(CASE WHEN hits = 3 THEN 1 ELSE 0 END) * 1000000) // count(*)
         AS BIGINT) AS fp_ppm
FROM hits
"""

  /** sketch_ams_f2: the AMS (Alon-Matias-Szegedy) sketch for the SECOND
    * FREQUENCY MOMENT F₂ = Σ c_k² — the self-join size / skew statistic
    * a planner consults before choosing a join strategy (F₂ ≫ N² / ndv
    * means a heavy-hitter key, i.e. salt or skew-hint). R = 128
    * four-wise-ish sign hashes s_r(k) ∈ {±1}; each estimator is
    * (Σ_k c_k·s_r(k))², and their mean is unbiased for F₂ with relative
    * error ~√(2/R) ≈ 12.5% (measured ≤ 11% on all three graded
    * corpora; the gate asserts 25%).
    *
    * Signs derive from `md5(r || ':' || k)` first hex digit < '8' — the
    * same engine-neutral hash-randomness trick as the LSH hyperplanes
    * ([[SimilarityQueries]]), so the estimate itself (not just the
    * exact truth) hash-matches the oracle bit-for-bit: the estimator's
    * whole arithmetic is int64.
    *
    * Scale: the sketch is computed from the per-key COUNT table (one
    * map-side-combinable agg, ndv rows), then R × ndv sign rows reduce
    * to R partial sums — a map-side-combinable shuffle of 128 groups.
    * On a stream you'd instead update the R running sums per arriving
    * row: the same ±c contribution, no count table — the agg here is
    * the batch replay of exactly that.
    */
  def amsF2(spark: SparkSession, sfDir: String): DataFrame = {
    val reps = 128
    val c = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey").as("k"))
      .agg(count(lit(1)).as("c"))
    val s = c
      .select(col("k"), col("c"),
        explode(expr(s"sequence(0, ${reps - 1})")).as("r"))
      .select(col("r"),
        when(substring(md5(concat(col("r").cast("string"), lit(":"),
          col("k").cast("string"))), 1, 1) < "8", col("c"))
          .otherwise(-col("c")).as("sc"))
      .groupBy("r").agg(sum(col("sc")).as("sr"))
    val est = s.agg(expr(s"sum(sr * sr) div $reps").as("f2_est"))
    val exact = c.agg(sum(col("c") * col("c")).as("f2_exact"))
    exact.crossJoin(est)
      .select(col("f2_exact"), col("f2_est"),
        (abs(col("f2_est") - col("f2_exact")) * 4 <= col("f2_exact"))
          .as("ams_within_25pct"))
  }

  val amsF2Oracle: String = """
WITH c AS (
  SELECT l_partkey AS k, count(*) AS c FROM lineitem GROUP BY 1
),
s AS (
  SELECT r.r,
         sum(CASE WHEN substr(md5(r.r || ':' || k), 1, 1) < '8'
             THEN c ELSE -c END) AS sr
  FROM c, unnest(range(0, 128)) AS r(r) GROUP BY r.r
),
est AS (SELECT cast(sum(sr * sr) // 128 AS bigint) AS f2_est FROM s),
ex AS (SELECT cast(sum(c * c) AS bigint) AS f2_exact FROM c)
SELECT f2_exact, f2_est,
       abs(f2_est - f2_exact) * 4 <= f2_exact AS ams_within_25pct
FROM ex, est
"""

  /** sketch_cms_merge: count-min LINEARITY — the property hll_union
    * pins for HLL, here for the counting sketch: CMS counters are sums,
    * so per-group sketches ADD cell-wise into exactly the sketch of the
    * union, making CMS rollup tables re-aggregatable to any coarser
    * grain without rescanning raw data (the 100 TB heavy-hitter
    * dashboard design: persist per-hour/per-source CMS vectors, answer
    * any day/total query by vector addition). Graded: per-event-type
    * sketches summed cell-wise vs the whole-table sketch — mismatching
    * cells (must be 0), both paths' estimates for the top user, and the
    * exact count the estimates bound.
    *
    * Scale: two map-side-combinable (j, bucket[, type]) counts over one
    * explode(4) pass each; the cell-compare joins two ≤ 4·1024-row
    * tables. Identical md5 bucket derivation to [[cmsHeavyHitters]].
    */
  def cmsMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val W = 1024
    val js = array((0 until 4).map(lit): _*)
    def bucket(j: org.apache.spark.sql.Column, key: org.apache.spark.sql.Column) =
      pmod(conv(substring(md5(concat(j, lit("#"), key)), 1, 14), 16, 10)
        .cast("bigint"), lit(W.toLong))
    val pairs = Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id"), explode(js).as("j"))
      .select(col("event_type"), col("user_id"), col("j"),
        bucket(col("j"), col("user_id")).as("b"))
      .localCheckpoint() // feeds both sketch builds and the probe
    val whole = pairs.groupBy("j", "b").agg(count(lit(1)).as("c_whole"))
    val merged = pairs.groupBy("event_type", "j", "b")
      .agg(count(lit(1)).as("c"))
      .groupBy("j", "b").agg(sum(col("c")).as("c_merged"))
    val cells = whole.join(merged, Seq("j", "b"), "full_outer")
      .agg(count(lit(1)).as("n_cells"),
        sum(when(col("c_whole") <=> col("c_merged"), 0L).otherwise(1L))
          .as("mismatch_cells"))
    val top = Tables.events(spark, sfDir)
      .groupBy("user_id").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("user_id")).limit(1)
      .localCheckpoint()
    val probe = top.select(col("user_id"), col("n_exact"), explode(js).as("j"))
      .select(col("user_id"), col("n_exact"), col("j"),
        bucket(col("j"), col("user_id")).as("b"))
    val ests = probe
      .join(broadcast(whole), Seq("j", "b"))
      .join(broadcast(merged), Seq("j", "b"))
      .groupBy("user_id", "n_exact")
      .agg(min(col("c_whole")).as("est_whole"),
           min(col("c_merged")).as("est_merged"))
    cells.crossJoin(ests)
      .select(col("n_cells"), col("mismatch_cells"),
        col("user_id").as("top_user"), col("n_exact"),
        col("est_whole"), col("est_merged"))
  }

  val cmsMergeOracle: String = """
WITH pairs AS (
  SELECT event_type, user_id, t.j,
         cast('0x' || substr(md5(t.j || '#' || user_id), 1, 14) AS bigint)
           % 1024 AS b
  FROM events, unnest([0, 1, 2, 3]) AS t(j)
),
whole AS (SELECT j, b, count(*) AS c_whole FROM pairs GROUP BY 1, 2),
merged AS (
  SELECT j, b, sum(c) AS c_merged
  FROM (SELECT event_type, j, b, count(*) AS c FROM pairs GROUP BY 1, 2, 3)
  GROUP BY 1, 2
),
cells AS (
  SELECT count(*) AS n_cells,
         sum(CASE WHEN c_whole IS NOT DISTINCT FROM c_merged
             THEN 0 ELSE 1 END) AS mismatch_cells
  FROM whole FULL OUTER JOIN merged USING (j, b)
),
top AS (
  SELECT user_id, count(*) AS n_exact FROM events GROUP BY 1
  ORDER BY n_exact DESC, user_id LIMIT 1
),
probe AS (
  SELECT t.user_id, t.n_exact, p.j, p.b
  FROM top t JOIN (SELECT DISTINCT user_id, j, b FROM pairs) p
    ON p.user_id = t.user_id
),
ests AS (
  SELECT pr.user_id, pr.n_exact,
         min(w.c_whole) AS est_whole, min(m.c_merged) AS est_merged
  FROM probe pr
  JOIN whole w ON w.j = pr.j AND w.b = pr.b
  JOIN merged m ON m.j = pr.j AND m.b = pr.b
  GROUP BY 1, 2
)
SELECT cells.n_cells,
       CAST(cells.mismatch_cells AS BIGINT) AS mismatch_cells,
       ests.user_id AS top_user, ests.n_exact,
       ests.est_whole, CAST(ests.est_merged AS BIGINT) AS est_merged
FROM cells, ests
"""

  /** sketch_theta_anotb: set-DIFFERENCE cardinality (A-not-B) from two
    * bounded theta sketches — "how many trigram shingles does src0
    * carry that src1 never does", the content-NOVELTY estimator a
    * curation pipeline runs before paying for a new source (the user/
    * event populations in this testdata are fully dense, so the
    * asymmetric sets live in the documents' shingle vocabularies).
    * Completes the theta set algebra: union ≈ KMV, intersection
    * ([[thetaIntersect]]), difference here. Recipe: θ = min(θ_A, θ_B);
    * the A-not-B SAMPLE is A's kept hashes below θ that are absent
    * from B's kept set — complete, because every B-hash below θ ≤ θ_B
    * is in B's k-min set by construction — and the estimate scales by
    * the kept fraction: `|sample| · 2⁵⁶ / θ`. The exact difference
    * rides along to pin accuracy; θ and the sample size make the
    * estimate auditable.
    *
    * Scale: shingling is a narrow per-doc transform; the per-source
    * DISTINCT + rank window shuffle on the shingle hash once (same
    * cost class as the exact distinct the sketch replaces — the
    * production path partial-aggregates k-min sets map-side via
    * [[graft.functions.KmvSketch]]'s machinery); every join after that
    * touches ≤ k = $KmvK rows per side plus two one-row scalars.
    */
  def thetaAnotB(spark: SparkSession, sfDir: String): DataFrame = {
    val k = KmvK
    val full = lit(1L << 56)
    val sh = Tables.documents(spark, sfDir)
      .where(col("source").isin("src0", "src1"))
      .select(col("source"), split(col("text"), " ").as("w"))
      .select(col("source"), explode(expr(
        "CASE WHEN size(w) < 3 THEN array() ELSE transform(" +
        "sequence(0, size(w) - 3), i -> concat_ws(' ', w[i], w[i+1], w[i+2])) END"
      )).as("g"))
    val hs = sh.select(col("source"), h56(col("g")).as("h")).distinct()
    val ranked = hs
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("h")))
      .withColumn("nh", count(lit(1)).over(Window.partitionBy("source")))
    val theta = ranked.groupBy("source")
      .agg(max(when(col("rn") === k, col("h"))).as("hk"),
           max(col("nh")).as("nh"))
      .select(when(col("nh") < k, full).otherwise(col("hk")).as("th"))
      .agg(min(col("th")).as("theta"))
    val a = ranked.where(col("source") === "src0" && col("rn") <= k)
      .select("h")
    val b = ranked.where(col("source") === "src1" && col("rn") <= k)
      .select("h")
    // Global (group-less) count: one row even if the difference sample
    // is empty — a groupBy would silently emit zero rows instead.
    val sample = a.join(b, Seq("h"), "left_anti").crossJoin(theta)
      .where(col("h") < col("theta"))
      .agg(count(lit(1)).as("n_sample"))
    val exact = hs.groupBy("h")
      .agg(max(when(col("source") === "src0", 1L).otherwise(0L)).as("in_a"),
           max(when(col("source") === "src1", 1L).otherwise(0L)).as("in_b"))
      .where(col("in_a") === 1L && col("in_b") === 0L)
      .agg(count(lit(1)).as("n_exact"))
    sample.crossJoin(theta).crossJoin(exact)
      .select(col("n_sample"), col("theta"),
        expr(s"cast((cast(n_sample AS decimal(19,0)) * ${1L << 56}L)" +
             " div theta AS bigint)").as("est_anotb"),
        col("n_exact"))
  }

  val thetaAnotBOracle: String = s"""
WITH w AS (
  SELECT source, string_split(text, ' ') AS w FROM documents
  WHERE source IN ('src0', 'src1')
),
sh AS (
  SELECT DISTINCT source,
         cast('0x' || substr(md5(g), 1, 14) AS bigint) AS h
  FROM (SELECT source,
               unnest(CASE WHEN len(w) < 3 THEN []
                      ELSE [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                            for i in range(1, len(w) - 1)] END) AS g
        FROM w)
),
ranked AS (
  SELECT source, h,
         row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
         count(*) OVER (PARTITION BY source) AS nh
  FROM sh
),
theta AS (
  SELECT min(CASE WHEN nh < $KmvK THEN ${1L << 56}
                  ELSE hk END) AS theta
  FROM (SELECT source, max(nh) AS nh,
               max(CASE WHEN rn = $KmvK THEN h END) AS hk
        FROM ranked GROUP BY source)
),
sample AS (
  SELECT count(*) AS n_sample
  FROM ranked a CROSS JOIN theta t
  WHERE a.source = 'src0' AND a.rn <= $KmvK AND a.h < t.theta
    AND NOT EXISTS (
      SELECT 1 FROM ranked b
      WHERE b.source = 'src1' AND b.rn <= $KmvK AND b.h = a.h)
),
exact AS (
  SELECT count(*) AS n_exact FROM (
    SELECT h,
           max(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS in_a,
           max(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS in_b
    FROM sh GROUP BY h)
  WHERE in_a = 1 AND in_b = 0
)
SELECT s.n_sample, t.theta,
       cast((s.n_sample::hugeint * ${1L << 56}) // t.theta AS bigint)
         AS est_anotb,
       e.n_exact
FROM sample s CROSS JOIN theta t CROSS JOIN exact e
"""

  val all: Seq[Query] = Seq(
    Query("sketch_theta_anotb", thetaAnotB, thetaAnotBOracle),
    Query("sketch_cms_merge", cmsMerge, cmsMergeOracle),
    Query("sketch_ams_f2", amsF2, amsF2Oracle),
    Query("sketch_bloom_fp", bloomFp, bloomFpOracle),
    Query("sketch_theta_intersect", thetaIntersect, thetaIntersectOracle),
    Query("sketch_hll_union", hllUnion, hllUnionOracle),
    Query("sketch_cms_topk", cmsHeavyHitters, cmsOracle),
    Query("sketch_kmv_distinct", kmvDistinct, kmvOracle),
    Query("sketch_hll_gate", hllGate, hllGateOracle),
    Query("sketch_quantile_gate", quantileGate, quantileGateOracle),
    Query("sketch_qdigest_quantiles", qdigestQuantiles, qdigestOracle),
  )
}
