package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Spatial operators over a synthetic integer plane — the operator
  * family (proximity joins, nearest neighbors) that geo workloads need
  * and that vanilla engines usually bolt on via grid/space-filling
  * tricks; here the tricks ARE the graded surface.
  *
  * Points are derived deterministically from the customer table: each
  * customer gets md5-hash coordinates uniform on a 1 000 000² integer
  * plane, so both engines rebuild the exact same point set and every
  * distance is an exact int64 (squared Euclidean — no sqrt, no trig, no
  * cross-engine float divergence).
  *
  * Scale: the grid join is the standard production shape — cell width =
  * search radius, so a qualifying pair can differ by at most one cell
  * index per axis and the 3×3 probe is COMPLETE; cost is one ×9 explode
  * plus an equi-join on the cell key, linear in points for bounded
  * density (never an all-pairs product). The kNN query uses the
  * bounded-query-set exact scan (|Q| ≤ 100 fixed), the same O(|Q|·N)
  * pattern as sim_topk_bruteforce.
  */
object GeoQueries {

  private val Side = 1000000L // plane edge length
  private val R = 5000L       // search radius = grid cell width
  private val Eps = 20000L    // DBSCAN radius (denser than R: cores
                              // must exist at sf0.01's 1 500 points)
  private val MinPts = 3      // DBSCAN core threshold (incl. self)

  /** Hot-cell cap for the grid join's candidate generator — the same
    * hot-bucket discipline every other candidate generator carries
    * (minhash bands, simhash bands, CDC chunk index, ANN buckets):
    * points in cells holding more than this many points are EXCLUDED
    * from the pair search (both probe and build side, mirrored in the
    * oracle), so a degenerate cell can contribute at most Cap²·9
    * candidate pairs instead of going quadratic in its population. On
    * the graded uniform plane expected occupancy is < 1 point/cell
    * (40 000 cells at sf0.1's 15 000 points), so the cap drops nothing
    * there — `GeoCapSpec` proves both properties on an adversarial
    * clustered fixture. 100 TB trade, stated: under real clustered geo
    * data the capped join returns the pair histogram of the ≤cap-dense
    * regions; over-dense cells need a finer grid (smaller radius) or a
    * pre-aggregation, and silently burning a quadratic join on them is
    * the one wrong answer.
    *
    * The cap SCALES with expected occupancy (ADVICE r10): a flat 64
    * calibrated at sf ≤ 0.1 (< 1 point/cell) would silently start
    * dropping ordinary Poisson-tail cells once uniform occupancy grows
    * (sf10 ≈ 37.5 points/cell → cells over 64 become routine).
    * [[adaptiveGridCap]] = max(64, 32 × ⌈points/cells⌉) keeps the cap
    * ≥ 32× the MEAN occupancy — far beyond any Poisson tail (at mean µ
    * the tail above 32µ is astronomically small), so under uniform
    * data the cap still drops nothing at ANY sf, while genuinely
    * clustered hot cells (the quadratic hazard) stay excluded. Integer
    * arithmetic, mirrored verbatim in the oracle.
    */
  private[queries] val GridCellCap = 64L

  private[queries] val GridCells: Long = (Side / R) * (Side / R) // 40 000

  /** max(floor, 32 × ⌈points/cells⌉) — the one occupancy-scaling rule
    * both the grid join's drop cap and DBSCAN's guard derive from, so
    * a margin recalibration cannot desynchronize them.
    */
  private def adaptiveCap(floor: Long, cells: Long, nPoints: Long): Long =
    math.max(floor, 32L * ((nPoints + cells - 1L) / cells))

  private[queries] def adaptiveGridCap(nPoints: Long): Long =
    adaptiveCap(GridCellCap, GridCells, nPoints)

  /** DBSCAN's grid uses a GUARD, not a drop: a hot cell there is
    * precisely a dense cluster — dropping it would invert the
    * operator's meaning (densest regions become noise) — so an
    * over-dense cell fails LOUDLY with the remediation options instead
    * (the TopKPerKey key-bound discipline). 512 ≈ 85× the sf0.1
    * expected occupancy (6 points/cell at eps-width cells).
    *
    * Like the grid join's drop cap, the guard SCALES with expected
    * occupancy (VERDICT r12 #5): fixed at 512, uniform data would
    * start tripping it around sf≳5 (occupancy grows linearly with sf —
    * ~300 points/cell at sf5 puts ordinary Poisson-tail cells over a
    * fixed cap). [[adaptiveDbscanCap]] = max(512, 32 × ⌈points/cells⌉)
    * keeps the guard ≥ 32× the MEAN occupancy — far beyond any Poisson
    * tail, so uniform data passes at ANY sf, while a genuinely
    * clustered hot cell (the quadratic hazard) still fails loudly.
    * Scaling is safe precisely BECAUSE this is a guard: a too-high cap
    * can only let a slow-but-correct query through, never drop data.
    */
  private[queries] val DbscanCellCap = 512L

  private[queries] val DbscanCells: Long = (Side / Eps) * (Side / Eps) // 2 500

  private[queries] def adaptiveDbscanCap(nPoints: Long): Long =
    adaptiveCap(DbscanCellCap, DbscanCells, nPoints)

  private def h56(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(c), 1, 14), 16, 10).cast("bigint")

  /** Loud over-density guard (the TopKPerKey key-bound discipline):
    * fails the query up front if any grid cell exceeds `cap` points,
    * naming the occupancy and the remediation options. One small
    * aggregate over the (checkpointed) cell table.
    */
  private[queries] def requireBoundedCells(p: DataFrame, cap: Long,
      what: String): Unit = {
    val occ = p.groupBy("cx", "cy").count()
      .agg(coalesce(max(col("count")), lit(0L)).as("m"))
      .collect()(0).getLong(0)
    requireOccupancy(occ, cap, what)
  }

  /** [[requireBoundedCells]] with the OCCUPANCY-SCALED DBSCAN cap, in
    * ONE aggregate job: max cell occupancy and the total point count
    * (which sets the cap) come off the same `groupBy(cx, cy)` pass —
    * a separate `p.count()` would add a whole job to every dbscan run.
    */
  private[queries] def requireBoundedCellsAdaptive(p: DataFrame,
      what: String): Unit = {
    val row = p.groupBy("cx", "cy").count()
      .agg(coalesce(max(col("count")), lit(0L)).as("m"),
           coalesce(sum(col("count")), lit(0L)).as("n"))
      .collect()(0)
    requireOccupancy(row.getLong(0), adaptiveDbscanCap(row.getLong(1)), what)
  }

  private def requireOccupancy(occ: Long, cap: Long, what: String): Unit =
    require(occ <= cap,
      s"$what: a grid cell holds $occ points > cap $cap — the " +
      "cell-neighborhood join would go quadratic there; shrink the cell " +
      "width, pre-aggregate coincident points, or raise the cap consciously")

  /** (id, x, y) points on the integer plane, one per customer —
    * memoized checkpointed and core-spread (r14): all three geo queries
    * re-derived it per invocation, and the byte-tiny customer scan is
    * one task, which serialized every downstream cell-neighborhood
    * probe and distance verify (the sim-family finding; see
    * SimilarityQueries.normalized). The md5-based coordinate hash
    * itself is also paid once now.
    */
  private val pointsMemo = new Memo[DataFrame]
  private[queries] def points(spark: SparkSession, sfDir: String): DataFrame =
    pointsMemo(spark, sfDir) { (s, d) =>
      Pin(Tables.customer(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(
          col("c_custkey").as("id"),
          (h56(concat(lit("gx#"), col("c_custkey"))) % Side).as("x"),
          (h56(concat(lit("gy#"), col("c_custkey"))) % Side).as("y")))
    }

  /** Bench prewarm hook (r14): see DedupQueries.prewarmDedupMemos. */
  private[graft] def prewarmGeoMemos(spark: SparkSession, sfDir: String): Unit = {
    points(spark, sfDir).count()
  }

  /** geo_grid_join: all point pairs within distance R, found via the
    * cell-grid candidate join (cell = coordinate div R; the left side
    * probes its 3×3 cell neighborhood, the right side sits in its own
    * cell, so each candidate pair arises exactly once) and verified
    * with exact integer squared distance. Graded as the pair-count
    * histogram over dist² quartile shells — which pins candidate
    * generation, dedup, and verification, not just a count.
    */
  def gridJoin(spark: SparkSession, sfDir: String): DataFrame =
    gridJoinOn(points(spark, sfDir)) // memoized checkpointed (r14)

  /** What the hot-cell cap excluded from one [[gridJoinOn]] run —
    * surfaced (VERDICT r11 #6) so a 100 TB operator SEES the drop
    * instead of trusting the cap blind: a nonzero count means the pair
    * histogram describes only the ≤cap-dense regions, and the
    * remediation (finer grid, pre-aggregation, conscious cap raise) is
    * a decision, not a surprise.
    */
  final case class GridDropStats(cap: Long, droppedCells: Long,
      droppedPoints: Long)

  private[queries] def gridJoinOn(pts: DataFrame): DataFrame =
    gridJoinOn(pts, adaptiveGridCap(pts.count()))

  private[queries] def gridJoinOn(pts: DataFrame, cap: Long): DataFrame =
    gridJoinWithStats(pts, cap)._1

  /** The capped grid join over an arbitrary (id, x, y) point set —
    * split out so `GeoCapSpec` can drive it with an adversarial
    * clustered fixture — plus the drop accounting. The occupancy table
    * is checkpointed once and shared by the stats action and the
    * query's own hot-cell anti-join, so observability costs one small
    * aggregate job, not a second pass over the points. Dropping
    * anything is also announced on stderr — silent truncation reads as
    * "covered everything" when it didn't.
    */
  def gridJoinWithStats(pts: DataFrame, cap: Long): (DataFrame, GridDropStats) = {
    val cells = pts
      .select(col("id"), col("x"), col("y"),
        expr(s"x div ${R}L").as("cx"), expr(s"y div ${R}L").as("cy"))
      .localCheckpoint() // hot-cell count, probe and build share it
    val occ = cells.groupBy("cx", "cy").count().localCheckpoint()
    val dropRow = occ.where(col("count") > cap)
      .agg(count(lit(1)).as("cells"),
           coalesce(sum(col("count")), lit(0L)).as("points"))
      .collect()(0)
    val stats = GridDropStats(cap, dropRow.getLong(0), dropRow.getLong(1))
    if (stats.droppedPoints > 0L)
      System.err.println(s"[geo] grid join: hot-cell cap $cap excluded " +
        s"${stats.droppedPoints} points in ${stats.droppedCells} cells " +
        "from the pair search — the result covers only the <=cap-dense " +
        "regions (shrink the cell width, pre-aggregate, or raise the cap)")
    // hot-cell drop: tiny by construction (cells over cap), broadcast
    // into an anti-join on both sides of the candidate join
    val hot = occ.where(col("count") > cap).select("cx", "cy")
    val p = cells.join(broadcast(hot), Seq("cx", "cy"), "left_anti")
      .select("id", "x", "y", "cx", "cy")
    val probes = p.select(col("id").as("a"), col("x").as("xa"),
        col("y").as("ya"),
        explode(expr("transform(sequence(0, 8)," +
          " i -> named_struct('cx', cx + i div 3 - 1," +
          " 'cy', cy + i % 3 - 1))"))
          .as("cell"))
      .select(col("a"), col("xa"), col("ya"),
        col("cell.cx").as("cx"), col("cell.cy").as("cy"))
    val out = probes.join(p.toDF("b", "xb", "yb", "cx", "cy"), Seq("cx", "cy"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"),
        ((col("xa") - col("xb")) * (col("xa") - col("xb"))
          + (col("ya") - col("yb")) * (col("ya") - col("yb"))).as("d2"))
      .where(col("d2") <= lit(R * R))
      .groupBy(expr(s"(d2 * 4) div ${R * R}L").as("shell"))
      .agg(count(lit(1)).as("n_pairs"), min(col("d2")).as("min_d2"),
           max(col("d2")).as("max_d2"))
      .orderBy("shell")
    (out, stats)
  }

  val gridJoinOracle: String = s"""
WITH p AS (
  SELECT c_custkey AS id,
         cast('0x' || substr(md5('gx#' || c_custkey), 1, 14) AS bigint)
           % $Side AS x,
         cast('0x' || substr(md5('gy#' || c_custkey), 1, 14) AS bigint)
           % $Side AS y
  FROM customer
),
cells AS (SELECT id, x, y, x // $R AS cx, y // $R AS cy FROM p),
hot AS (
  SELECT cx, cy FROM cells GROUP BY cx, cy
  HAVING count(*) > greatest($GridCellCap,
    32 * (((SELECT count(*) FROM p) + $GridCells - 1) // $GridCells))
),
c AS (
  SELECT cells.* FROM cells
  LEFT JOIN hot ON hot.cx = cells.cx AND hot.cy = cells.cy
  WHERE hot.cx IS NULL
),
probes AS (
  SELECT id AS a, x AS xa, y AS ya,
         cx + dx.d AS cx, cy + dy.d AS cy
  FROM c,
       (SELECT unnest([-1, 0, 1]) AS d) dx,
       (SELECT unnest([-1, 0, 1]) AS d) dy
),
pairs AS (
  SELECT pr.a, b.id AS b,
         (pr.xa - b.x) * (pr.xa - b.x) + (pr.ya - b.y) * (pr.ya - b.y)
           AS d2
  FROM probes pr JOIN c b ON b.cx = pr.cx AND b.cy = pr.cy
  WHERE pr.a < b.id
)
SELECT (d2 * 4) // ${R * R} AS shell, count(*) AS n_pairs,
       CAST(min(d2) AS BIGINT) AS min_d2, CAST(max(d2) AS BIGINT) AS max_d2
FROM pairs WHERE d2 <= ${R * R}
GROUP BY 1 ORDER BY shell
"""

  /** geo_knn: exact 3 nearest neighbors for a fixed bounded query set
    * (ids ≡ 0 mod 150 AND < 15000 — the absolute cap makes |Q| ≤ 100
    * at EVERY sf, not just sf ≤ 0.1; without it |Q| grows linearly
    * with scale and the scan is O(N²/150), ADVICE r5), squared-distance
    * metric, full (d², id) deterministic tie-break. The brute-force
    * O(|Q|·N) scan is the correctness baseline of the family (exactly
    * the sim_topk_bruteforce pattern on a different metric space); the
    * linear-at-scale path is [[gridJoin]]'s cells with expanding-ring
    * probes.
    */
  def knn(spark: SparkSession, sfDir: String): DataFrame = {
    val p = points(spark, sfDir) // memoized checkpointed (r14)
    val q = p.toDF("qid", "qx", "qy")
      .where(col("qid") % 150 === 0 && col("qid") < 15000)
    val w = Window.partitionBy("qid").orderBy("d2", "id")
    q.join(p, col("qid") =!= col("id"))
      .select(col("qid"), col("id"),
        ((col("qx") - col("x")) * (col("qx") - col("x"))
          + (col("qy") - col("y")) * (col("qy") - col("y"))).as("d2"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("id").as("neighbor"), col("d2"))
      .orderBy("qid", "rank")
  }

  val knnOracle: String = s"""
WITH p AS (
  SELECT c_custkey AS id,
         cast('0x' || substr(md5('gx#' || c_custkey), 1, 14) AS bigint)
           % $Side AS x,
         cast('0x' || substr(md5('gy#' || c_custkey), 1, 14) AS bigint)
           % $Side AS y
  FROM customer
),
scored AS (
  SELECT q.id AS qid, c.id AS id,
         (q.x - c.x) * (q.x - c.x) + (q.y - c.y) * (q.y - c.y) AS d2
  FROM p q JOIN p c ON q.id % 150 = 0 AND q.id < 15000 AND q.id <> c.id
),
ranked AS (
  SELECT qid, id, d2,
         row_number() OVER (PARTITION BY qid ORDER BY d2, id) AS rank
  FROM scored
)
SELECT qid, rank, id AS neighbor, CAST(d2 AS BIGINT) AS d2
FROM ranked WHERE rank <= 3 ORDER BY qid, rank
"""

  /** geo_dbscan: density-based clustering (DBSCAN core semantics) as a
    * composition of the engine's own primitives — the canonical
    * "spatial clustering at warehouse scale" shape:
    *
    *   1. eps-neighbor pairs via the CELL-GRID candidate join (cell
    *      width = eps, 3×3 probe is complete — [[gridJoin]]'s pattern,
    *      never all-pairs);
    *   2. CORE points = ≥ minPts−1 neighbors within eps (standard
    *      DBSCAN counts the point itself toward minPts);
    *   3. clusters = connected components over the core–core eps
    *      edges, solved by the flagship CC fixpoint
    *      ([[graft.cc.ConnectedComponents.runAuto]]) — density
    *      clustering reduces to the reference's own operator;
    *   4. labels: cluster id = component minimum (deterministic);
    *   5. BORDER points: non-core within eps of ≥1 core, attached to
    *      the minimum adjacent cluster id (the deterministic tie-break
    *      — textbook DBSCAN leaves multi-adjacent borders
    *      order-dependent, which a hash gate cannot tolerate);
    *   6. NOISE: everything else, reported as one `cluster = -1` row.
    *
    * Graded as (cluster, n_core, n_border, n_noise) rows — the full
    * three-way DBSCAN accounting (n_noise is 0 on real clusters and
    * the global count on the -1 row).
    *
    * eps = 20 000 (denser than the grid join's 5 000 so cores exist at
    * sf0.01's 1 500 points); minPts = 3. The oracle re-solves the
    * core–core closure with [[Oracles.minLabel]], as the cc_* oracles
    * do. Scale: candidate generation is linear for bounded
    * density — and unbounded density fails LOUDLY up front
    * ([[DbscanCellCap]]; dropping hot cells like the grid join does
    * would invert DBSCAN's meaning, so the guard is the only honest
    * bound — the occupancy probe is one small aggregate over the
    * already-checkpointed cell table. The CC input is |core-edges| ≪
    * |pairs|, and border/noise attachment is one more
    * aggregate-and-anti-join over the same pair table.
    */
  def dbscan(spark: SparkSession, sfDir: String): DataFrame = {
    // Narrow projection over the memoized checkpointed point table —
    // the per-call checkpoint this carried only re-materialized it
    // with two derived columns (r14).
    val p = points(spark, sfDir)
      .select(col("id"), col("x"), col("y"),
        expr(s"x div ${Eps}L").as("cx"), expr(s"y div ${Eps}L").as("cy"))
    requireBoundedCellsAdaptive(p, "geo_dbscan")
    val probes = p.select(col("id").as("a"), col("x").as("xa"),
        col("y").as("ya"),
        explode(expr("transform(sequence(0, 8)," +
          " i -> named_struct('cx', cx + i div 3 - 1," +
          " 'cy', cy + i % 3 - 1))"))
          .as("cell"))
      .select(col("a"), col("xa"), col("ya"),
        col("cell.cx").as("cx"), col("cell.cy").as("cy"))
    val pairs = probes
      .join(p.toDF("b", "xb", "yb", "cx", "cy"), Seq("cx", "cy"))
      .where(col("a") < col("b"))
      .where(((col("xa") - col("xb")) * (col("xa") - col("xb"))
        + (col("ya") - col("yb")) * (col("ya") - col("yb")))
        <= lit(Eps * Eps))
      .select(col("a"), col("b"))
      // Key-repartition before the checkpoint so AQE sizes the pair
      // table's partitions by BYTES: the candidate join inherits the
      // core-spread point layout (right for the join's distance math),
      // but ~10 downstream stages rescan `pairs`/`sym` doing tiny
      // per-row work — without this exchange they inherit the join's
      // partition count and pay per-task fixed costs ~10× the data
      // (r14 probe: dbscan CPU 1.7 s → 97 s when the spread landed).
      // `a` is also sym/core's grouping key. Scale-adaptive: AQE
      // coalesces to 1 partition at sf0.1 and to many at volume.
      .repartition(col("a"))
      .localCheckpoint() // reused: degree count + core-edge filter
    val sym = pairs.unionAll(pairs.select(col("b").as("a"), col("a").as("b")))
    val core = sym.groupBy("a").agg(count(lit(1)).as("deg"))
      .where(col("deg") >= MinPts - 1)
      .select(col("a").as("node"))
    val coreEdges = sym
      .join(core.toDF("a"), "a").join(core.toDF("b"), "b")
      .select(col("a").as("src"), col("b").as("dst"))
    val assigned = graft.cc.ConnectedComponents.runAuto(coreEdges).assignments
    // a core whose eps-neighbors are all non-core forms a SINGLETON
    // cluster — the CC solve only sees nodes with core-core edges, so
    // re-attach the edgeless cores as their own components
    val labels = core.join(assigned, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("component"), col("node")).as("cluster"))
      .localCheckpoint() // reused: core counts + border attachment
    // border = non-core with a core eps-neighbor → min adjacent cluster;
    // checkpointed because it is consumed twice (per-cluster border
    // counts + the noise anti-join) and its lineage crosses the
    // |pairs|-sized sym table (code-review r10)
    val border = sym.join(labels.toDF("b", "cluster"), "b")
      .join(core.toDF("a"), Seq("a"), "left_anti")
      .groupBy(col("a").as("node")).agg(min(col("cluster")).as("cluster"))
      .localCheckpoint()
    val noise = p.select(col("id").as("node"))
      .join(core, Seq("node"), "left_anti")
      .join(border.select("node"), Seq("node"), "left_anti")
      .agg(count(lit(1)).as("n_noise"))
    labels.groupBy("cluster").agg(count(lit(1)).as("n_core"))
      .join(border.groupBy("cluster").agg(count(lit(1)).as("n_border")),
        Seq("cluster"), "left")
      .select(col("cluster"), col("n_core"),
        coalesce(col("n_border"), lit(0L)).as("n_border"),
        lit(0L).as("n_noise"))
      .unionAll(noise.select(lit(-1L).as("cluster"), lit(0L).as("n_core"),
        lit(0L).as("n_border"), col("n_noise")))
      .orderBy("cluster")
  }

  // `pairs` is an all-pairs distance join, read through `sym`, `core`
  // and `edges` many times over; MATERIALIZED runs it once, where DuckDB
  // would re-run an inlined CTE at every reference.
  val dbscanOracle: String = s"""
WITH RECURSIVE p AS (
  SELECT c_custkey AS id,
         cast('0x' || substr(md5('gx#' || c_custkey), 1, 14) AS bigint)
           % $Side AS x,
         cast('0x' || substr(md5('gy#' || c_custkey), 1, 14) AS bigint)
           % $Side AS y
  FROM customer
),
pairs AS MATERIALIZED (
  SELECT a.id AS a, b.id AS b
  FROM p a JOIN p b ON a.id < b.id
  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
          <= ${Eps * Eps}
),
sym AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
core AS (
  SELECT a AS node FROM sym GROUP BY a HAVING count(*) >= ${MinPts - 1}
),
edges AS (
  SELECT p.a AS src, p.b AS dst FROM pairs p
  JOIN core c1 ON c1.node = p.a JOIN core c2 ON c2.node = p.b
),${Oracles.minLabel("lab", "core", "edges")},
labels AS (SELECT node, comp AS cluster FROM lab),
border AS (
  SELECT s.a AS node, min(l.cluster) AS cluster
  FROM sym s JOIN labels l ON l.node = s.b
  WHERE s.a NOT IN (SELECT node FROM core)
  GROUP BY s.a
),
clusters AS (
  SELECT c.cluster, c.n_core,
         coalesce(b.n_border, CAST(0 AS BIGINT)) AS n_border,
         CAST(0 AS BIGINT) AS n_noise
  FROM (SELECT cluster, count(*) AS n_core FROM labels GROUP BY 1) c
  LEFT JOIN (SELECT cluster, count(*) AS n_border FROM border GROUP BY 1) b
    ON b.cluster = c.cluster
),
noise AS (
  SELECT CAST(-1 AS BIGINT) AS cluster, CAST(0 AS BIGINT) AS n_core,
         CAST(0 AS BIGINT) AS n_border, count(*) AS n_noise
  FROM p
  WHERE id NOT IN (SELECT node FROM core)
    AND id NOT IN (SELECT node FROM border)
)
SELECT cluster, n_core, n_border, n_noise FROM clusters
UNION ALL SELECT cluster, n_core, n_border, n_noise FROM noise
ORDER BY cluster
"""

  val all: Seq[Query] = Seq(
    Query("geo_grid_join", gridJoin, gridJoinOracle),
    Query("geo_knn", knn, knnOracle),
    Query("geo_dbscan", dbscan, dbscanOracle),
  )
}
