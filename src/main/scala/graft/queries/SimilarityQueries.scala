package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over `embeddings` (ArrayType(FloatType), dim 64).
  *
  * - exact threshold pairs and brute-force top-k via a codegen'd
  *   primitive-loop dot product — the correctness baselines, each over a
  *   BOUNDED deterministic query set (≤100 queries at any corpus size)
  *   so cost is O(|Q|·N), never an unbounded all-pairs join;
  * - random-hyperplane LSH buckets + in-bucket rerank — the scale path
  *   (candidate set shrinks by the bucket factor; at 100 TB you'd also
  *   bucket-partition the build side and broadcast the query side).
  *
  * Oracle parity: cosine is float math folded left-to-right in Spark vs
  * arbitrary order in DuckDB's SUM — outputs round to 4 decimals and
  * thresholds sit far from any data point (see check for distribution),
  * making boundary flips vanishingly unlikely.
  */
object SimilarityQueries {

  /** embedding normalized to unit length, as double array — memoized
    * checkpointed AND core-spread (r14). Two measured reasons: every
    * sim/dedup-ANN query re-normalized the corpus per invocation, and —
    * the bigger one — the embeddings parquet is byte-tiny (one scan
    * task), so every downstream O(|Q|·N) dot-product scan, LSH
    * plane-projection and IVF assignment ran SINGLE-THREADED (probe:
    * tasks == stages for the whole sim family; sim_ann_lsh 1.3 s of
    * one-core CPU). The round-robin spread follows defaultParallelism —
    * the cluster, not a local constant; at real scale the scan has many
    * splits and the repartition is a no-op cost-wise.
    */
  private val normMemo = new Memo[DataFrame]
  private[queries] def normalized(spark: SparkSession, sfDir: String): DataFrame =
    normMemo(spark, sfDir) { (s, d) =>
      Pin(Tables.embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"),
          transform(col("embedding"), (x: Column) => x.cast("double")).as("v"))
        .select(col("vec_id"), col("v"),
          sqrt(aggregate(col("v"), lit(0.0), (acc: Column, x: Column) => acc + x * x)).as("norm"))
        .select(col("vec_id"),
          transform(col("v"), (x: Column) => x / col("norm")).as("u")))
    }

  /** Bench prewarm hook (r14): see DedupQueries.prewarmDedupMemos. */
  private[graft] def prewarmSimMemos(spark: SparkSession, sfDir: String): Unit = {
    normalized(spark, sfDir).count()
  }

  /** Codegen'd primitive-loop dot product (custom Catalyst expression,
    * see [[graft.functions.DotProduct]]); left-to-right accumulation
    * matches the oracle's list_sum fold bit-for-bit.
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot(a, b)

  /** Exact threshold pairs (cosine >= 0.4, far above the 99.9th pct of
    * the pair distribution) for a BOUNDED query set: pairs whose smaller
    * endpoint is one of the ≤100 query ids (`id % 5 = 0 AND id < 500`).
    * The query side is a fixed-size deterministic set independent of
    * corpus size, so the scan is O(|Q|·N) — linear in N, never an
    * unbounded all-pairs join (the [[graft.queries.GraphQueries.linkPrediction]]
    * query-set shape). The exact answer for arbitrary pairs remains
    * recoverable by re-running with a different query set; corpus-wide
    * threshold discovery is [[graft.queries.DedupQueries.dedupEmbeddingAnn]]'s
    * job (bucketed, linear).
    */
  def cosinePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val n = normalized(spark, sfDir)
    val a = n.where(col("vec_id") % 5 === 0 && col("vec_id") < 500).toDF("a", "ua")
    val b = n.toDF("b", "ub")
    a.join(b, col("a") < col("b"))
      .select(col("a"), col("b"), dot(col("ua"), col("ub")).as("cos"))
      .where(col("cos") >= 0.4)
      .select(col("a"), col("b"), round(col("cos"), 4).as("cos4"))
      .orderBy("a", "b")
  }

  val cosinePairsOracle: String = """
WITH n AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::double) AS v,
         sqrt(list_sum(list_transform(embedding, x -> (x::double) * (x::double)))) AS nrm
  FROM embeddings
),
u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM n),
pairs AS (
  SELECT a.vec_id AS a, b.vec_id AS b,
         list_sum(list_transform(range(1, len(a.u) + 1), i -> a.u[i] * b.u[i])) AS cos
  FROM u a JOIN u b ON a.vec_id < b.vec_id
  WHERE a.vec_id % 5 = 0 AND a.vec_id < 500
)
SELECT a, b, round(cos, 4) AS cos4 FROM pairs WHERE cos >= 0.4 ORDER BY a, b
"""

  /** Brute-force top-5 cosine neighbors for every 50th vector below id
    * 5000 — ≤100 queries at ANY corpus size (the cap is a no-op at the
    * graded scales, whose ids stop at 1999), so the exact scan is
    * O(|Q|·N), linear in N.
    *
    * Ranking uses the custom [[graft.plans.TopKPerKey]] bounded-heap
    * operator, not the window idiom: ≤100 hot keys over |Q|·N scored
    * rows is exactly the operator's measured domain (SCALE.md
    * "TopKPerKey vs the window idiom" —
    * few groups, huge corpus: the window's per-partition sort pays
    * O(n log n) on the full score table, the heap scans it in
    * O(n log k) and ships ≤ k·|Q| rows per task). Measured at sf0.1
    * (single-query timing, local[32]): 1.21s → 1.04–1.14s median — a
    * modest win because the O(|Q|·N) dot-product join dominates this
    * query's cost, not the rank; the sort-elimination matters more as
    * N grows. The residual rank window runs over the ≤ 500-row top-k
    * result, not the score table.
    */
  def topkBruteForce(spark: SparkSession, sfDir: String): DataFrame = {
    val n = normalized(spark, sfDir)
    val q = n.toDF("query_id", "uq")
      .where(col("query_id") % 50 === 0 && col("query_id") < 5000)
    val c = n.toDF("neighbor_id", "uc")
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
              dot(col("uq"), col("uc")).as("cos"))
    val top = graft.plans.TopKPerKey.topK(scored,
      Seq(col("query_id")), Seq(col("cos").desc, col("neighbor_id").asc), 5)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    top.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
              round(col("cos"), 4).as("cos4"))
      .orderBy("query_id", "rank")
  }

  val topkOracle: String = """
WITH n AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::double) AS v,
         sqrt(list_sum(list_transform(embedding, x -> (x::double) * (x::double)))) AS nrm
  FROM embeddings
),
u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM n),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_sum(list_transform(range(1, len(q.u) + 1), i -> q.u[i] * c.u[i])) AS cos
  FROM u q JOIN u c ON q.vec_id % 50 = 0 AND q.vec_id < 5000 AND q.vec_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos4
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""

  /** MMR (maximal-marginal-relevance) diversified re-ranking — the
    * retrieval-tail operator every RAG/data-curation pipeline runs
    * after top-k: greedily pick items maximizing
    * `relevance − max(similarity to already-picked)` so near-duplicate
    * candidates don't crowd the context window. Shape: a bounded
    * query set (every 100th vector below the ABSOLUTE cap 20 000, so
    * |Q| ≤ 200 at every sf — the geo_knn/ADVICE-r5 rule: without the
    * cap |Q| grows with N and the scan is O(N²/100)) → top-8
    * relevance candidates via
    * the bounded-heap [[graft.plans.TopKPerKey]] operator → the greedy
    * loop UNROLLED to its fixed depth (3 picks) as three
    * argmax-by-struct aggregations over ≤8 rows per query — no driver
    * loop, no UDF, every step one shuffle on qid. Scores are raw
    * unit-vector dot products (λ = ½ scaled by 2), bit-identical
    * across engines because both fold left-to-right; ties break by
    * candidate id. At 100 TB: candidate generation is the ANN
    * funnel's job (sim_ann_ivf); MMR itself touches k·|Q| rows — the
    * cheap, embarrassingly-parallel tail.
    */
  def mmrRerank(spark: SparkSession, sfDir: String): DataFrame = {
    val n = normalized(spark, sfDir)
    val q = n.where(col("vec_id") % 100 === 0 && col("vec_id") < 20000)
      .select(col("vec_id").as("qid"), col("u").as("uq"))
    val c = n.select(col("vec_id").as("cid"), col("u").as("uc"))
    val scored = q.join(c, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
              dot(col("uq"), col("uc")).as("rel"), col("uc"))
    val cand = graft.plans.TopKPerKey.topK(scored,
      Seq(col("qid")), Seq(col("rel").desc, col("cid").asc), 8)
    def argmax(df: DataFrame, score: Column, idAs: String, scoreAs: String) =
      df.groupBy("qid")
        .agg(max(struct(score.as("s"), (-col("cid")).as("nc"))).as("m"))
        .select(col("qid"), (-col("m.nc")).as(idAs), col("m.s").as(scoreAs))
    val pick1 = argmax(cand, col("rel"), "id1", "score1")
    val u1 = cand.join(pick1, "qid").where(col("cid") === col("id1"))
      .select(col("qid"), col("uc").as("u1"))
    val rem1 = cand.join(pick1.select("qid", "id1"), "qid")
      .where(col("cid") =!= col("id1"))
      .join(u1, "qid")
      .select(col("qid"), col("cid"), col("rel"), col("uc"),
              dot(col("uc"), col("u1")).as("sim1"))
    val pick2 = argmax(rem1, col("rel") - col("sim1"), "id2", "score2")
    val u2 = rem1.join(pick2, "qid").where(col("cid") === col("id2"))
      .select(col("qid"), col("uc").as("u2"))
    val rem2 = rem1.join(pick2.select("qid", "id2"), "qid")
      .where(col("cid") =!= col("id2"))
      .join(u2, "qid")
      .select(col("qid"), col("cid"),
        (col("rel") - greatest(col("sim1"), dot(col("uc"), col("u2"))))
          .as("mmr3"))
    val pick3 = argmax(rem2, col("mmr3"), "id3", "score3")
    pick1.select(col("qid"), lit(1L).as("rank"),
        col("id1").as("cand_id"), round(col("score1"), 4).as("score4"))
      .unionAll(pick2.select(col("qid"), lit(2L).as("rank"),
        col("id2").as("cand_id"), round(col("score2"), 4).as("score4")))
      .unionAll(pick3.select(col("qid"), lit(3L).as("rank"),
        col("id3").as("cand_id"), round(col("score3"), 4).as("score4")))
      .orderBy("qid", "rank")
  }

  val mmrOracle: String = """
WITH n AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::double) AS v,
         sqrt(list_sum(list_transform(embedding, x -> (x::double) * (x::double)))) AS nrm
  FROM embeddings
),
u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM n),
scored AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid,
         list_sum(list_transform(range(1, len(q.u) + 1), i -> q.u[i] * c.u[i])) AS rel,
         c.u AS uc
  FROM u q JOIN u c ON q.vec_id % 100 = 0 AND q.vec_id < 20000
                   AND q.vec_id <> c.vec_id
),
cand AS (
  SELECT qid, cid, rel, uc FROM (
    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS rn
    FROM scored) WHERE rn <= 8
),
pick1 AS (
  SELECT qid, cid AS id1, rel AS score1 FROM (
    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS rn
    FROM cand) WHERE rn = 1
),
u1 AS (SELECT c.qid, c.uc AS u1 FROM cand c
       JOIN pick1 p ON c.qid = p.qid AND c.cid = p.id1),
rem1 AS (
  SELECT c.qid, c.cid, c.rel, c.uc,
         list_sum(list_transform(range(1, len(c.uc) + 1),
                                 i -> c.uc[i] * u1.u1[i])) AS sim1
  FROM cand c
  JOIN pick1 p ON c.qid = p.qid AND c.cid <> p.id1
  JOIN u1 ON u1.qid = c.qid
),
pick2 AS (
  SELECT qid, cid AS id2, s AS score2 FROM (
    SELECT qid, cid, uc, rel - sim1 AS s,
           row_number() OVER (PARTITION BY qid ORDER BY rel - sim1 DESC, cid) AS rn
    FROM rem1) WHERE rn = 1
),
u2 AS (SELECT r.qid, r.uc AS u2 FROM rem1 r
       JOIN pick2 p ON r.qid = p.qid AND r.cid = p.id2),
rem2 AS (
  SELECT r.qid, r.cid,
         r.rel - greatest(r.sim1,
           list_sum(list_transform(range(1, len(r.uc) + 1),
                                   i -> r.uc[i] * u2.u2[i]))) AS s
  FROM rem1 r
  JOIN pick2 p ON r.qid = p.qid AND r.cid <> p.id2
  JOIN u2 ON u2.qid = r.qid
),
pick3 AS (
  SELECT qid, cid AS id3, s AS score3 FROM (
    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY s DESC, cid) AS rn
    FROM rem2) WHERE rn = 1
)
SELECT qid, CAST(1 AS BIGINT) AS rank, id1 AS cand_id, round(score1, 4) AS score4 FROM pick1
UNION ALL
SELECT qid, CAST(2 AS BIGINT), id2, round(score2, 4) FROM pick2
UNION ALL
SELECT qid, CAST(3 AS BIGINT), id3, round(score3, 4) FROM pick3
ORDER BY qid, rank
"""

  /** ANN via multi-table random-hyperplane LSH: 12 independent tables of
    * 5 seeded hyperplanes each → 12 5-bit bucket keys per vector; a
    * query's candidates are the union of its buckets across tables,
    * reranked exactly, top-3. Multi-table is load-bearing: true
    * neighbors here sit at cos ≈ 0.3–0.43 (θ ≈ 70°, per-plane collision
    * ≈ 0.6), so one b-bit table has recall 0.6^b ≈ 8% — L tables lift
    * it to 1-(1-p^b)^L ≈ 70% while random pairs still collide ~4× less
    * often (uniform-random embeddings are LSH's worst case; clustered
    * real-world embeddings fare far better). At 100 TB: shuffle once by
    * (table, bucket), broadcast the query side per bucket.
    *
    * Recall is asserted in SimilaritySpec against [[topkBruteForce]].
    * Hyperplane components are derived from md5("t:h:i") arithmetic —
    * uniform in [-1,1), identical hex in every engine, so unlike a
    * seeded-PRNG plane set this one has an exact SQL oracle (division
    * by 2^31 and the subtraction are exact IEEE ops on both sides; a
    * bucket bit could only diverge if a dot product landed within
    * ~1e-15 of zero, vanishingly unlikely on continuous data).
    */
  private[queries] def planeComponent(t: Int, h: Int, i: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$t:$h:$i".getBytes("UTF-8"))
    val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
            ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    v / 2147483648.0 - 1.0
  }

  /** (vec_id, bucket) rows over normalized vectors `n`: `nTables`
    * independent tables of `bitsPerTable` md5-derived hyperplane sign
    * bits each; key = bits*100 + table. Shared by [[annLsh]] and the
    * graded ANN dedup ([[DedupQueries.dedupEmbeddingAnn]]).
    */
  private[queries] def lshBuckets(n: DataFrame, nTables: Int,
                                  bitsPerTable: Int): DataFrame = {
    val dim = 64
    val planes: Array[Array[Array[Double]]] =
      Array.tabulate(nTables, bitsPerTable, dim)(planeComponent)
    val keys = (0 until nTables).map { t =>
      val bits = (0 until bitsPerTable).map { h =>
        val plane = array(planes(t)(h).toIndexedSeq.map(lit): _*)
        when(dot(col("u"), plane) >= 0, lit(1L << h)).otherwise(lit(0L))
      }.reduce(_ + _)
      bits * 100 + t // (bucket << tableBits) | table, readable form
    }
    n.select(col("vec_id"),
      explode(array(keys.map(_.as("k")): _*)).as("bucket"))
      .select(col("vec_id"), col("bucket"))
  }

  def annLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val n = normalized(spark, sfDir)
    // Bucket join on bare ids — the 64-double vectors are joined back
    // exactly once per deduped candidate, not carried through the
    // 12-table exploded join.
    val nCk = n.localCheckpoint()
    val bucketed = lshBuckets(nCk, nTables = 12, bitsPerTable = 5)
    val q = bucketed.toDF("query_id", "bucket")
      .where(col("query_id") % 50 === 0 && col("query_id") < 5000)
    val c = bucketed.toDF("neighbor_id", "bucket")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    q.join(c, Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .join(nCk.toDF("query_id", "uq"), "query_id")
      .join(nCk.toDF("neighbor_id", "uc"), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
              dot(col("uq"), col("uc")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
              round(col("cos"), 4).as("cos4"))
      .orderBy("query_id", "rank")
  }

  /** Oracle for [[annLsh]]: reproduces the md5-derived hyperplanes,
    * bucket keys, candidate union, and exact rerank in DuckDB.
    */
  val annLshOracle: String = """
WITH n AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::double) AS v,
         sqrt(list_sum(list_transform(embedding, x -> (x::double) * (x::double)))) AS nrm
  FROM embeddings
),
u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM n),
comps AS (
  SELECT t, h, i,
         cast('0x' || substr(md5(t || ':' || h || ':' || i), 1, 8) AS bigint)
           / 2147483648.0 - 1.0 AS w
  FROM unnest(range(0, 12)) AS tt(t),
       unnest(range(0, 5)) AS hh(h),
       unnest(range(0, 64)) AS ii(i)
),
planes AS (
  SELECT t, h, list(w ORDER BY i) AS w FROM comps GROUP BY t, h
),
dots AS (
  SELECT u.vec_id, p.t, p.h,
         list_sum(list_transform(range(1, len(u.u) + 1), i -> u.u[i] * p.w[i])) AS d
  FROM u, planes p
),
buckets AS (
  SELECT vec_id,
         cast(sum(CASE WHEN d >= 0 THEN 1 << h ELSE 0 END) AS bigint) * 100 + t AS bucket
  FROM dots GROUP BY vec_id, t
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM buckets q JOIN buckets c ON q.bucket = c.bucket
  WHERE q.vec_id % 50 = 0 AND q.vec_id < 5000 AND q.vec_id <> c.vec_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_sum(list_transform(range(1, len(q.u) + 1), i -> q.u[i] * c.u[i])) AS cos
  FROM cand
  JOIN u q ON cand.query_id = q.vec_id
  JOIN u c ON cand.neighbor_id = c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos, row_number() OVER (
    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos4
FROM ranked WHERE rank <= 3 ORDER BY query_id, rank
"""

  /** ANN via IVF (inverted-file) coarse quantization: the centroid table
    * is a FIXED-size sample — the `nlist`=80 vectors ranking first by
    * md5(vec_id), i.e. a deterministic uniform draw whose size does not
    * grow with N (a k-means refinement would go here at scale; the
    * selection is a top-k scan, no shuffle of the full corpus). Each
    * vector is assigned to its nearest centroid (the inverted file); a
    * query probes its `nprobe`=16 nearest centroids and reranks only
    * those lists (uniform-random embeddings are ANN's worst case — no
    * cluster structure — so the probed fraction is the recall lever;
    * nprobe=16/80 holds recall@3 = 0.5 here while still cutting the
    * candidate set 5×; clustered real-world embeddings probe far less).
    * Assignment cost is O(N·nlist) with nlist bounded — the
    * centroid table stays broadcastable at any corpus size, unlike the
    * earlier every-25th-vector scheme where nlist ∝ N made assignment
    * quadratic. At 100 TB you'd partition the corpus BY list id so each
    * probe touches `nprobe` partitions.
    *
    * Deterministic end-to-end (centroid choice is md5 ranking, argmins
    * tie-break on id), so it has an exact SQL oracle. Cosine gaps ≫
    * float error make the argmin stable across engines (same argument
    * as [[cosinePairs]]).
    */
  def annIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val nProbe = 16
    val nList = 80
    val n = normalized(spark, sfDir).localCheckpoint()
    val cents = broadcast(
      n.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(nList).toDF("cid", "ucent"))
    // inverted file: nearest centroid per vector
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("cid"))
    val ivf = n.crossJoin(cents)
      .select(col("vec_id"), col("cid"), dot(col("u"), col("ucent")).as("cos"))
      .withColumn("r", row_number().over(wAssign))
      .where(col("r") === 1)
      .select(col("vec_id"), col("cid"))
    // probe lists: top-nprobe centroids per query
    val q = n.toDF("query_id", "uq")
      .where(col("query_id") % 50 === 0 && col("query_id") < 5000)
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cid"))
    val probes = q.crossJoin(cents)
      .select(col("query_id"), col("uq"), col("cid"),
              dot(col("uq"), col("ucent")).as("cos"))
      .withColumn("r", row_number().over(wProbe))
      .where(col("r") <= nProbe)
      .select(col("query_id"), col("uq"), col("cid"))
    // rerank within the probed lists
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    probes.join(ivf, "cid")
      .where(col("query_id") =!= col("vec_id"))
      .join(n.toDF("vec_id2", "uc"), col("vec_id") === col("vec_id2"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              dot(col("uq"), col("uc")).as("cos"))
      .withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
              round(col("cos"), 4).as("cos4"))
      .orderBy("query_id", "rank")
  }

  val annIvfOracle: String = """
WITH n AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::double) AS v,
         sqrt(list_sum(list_transform(embedding, x -> (x::double) * (x::double)))) AS nrm
  FROM embeddings
),
u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM n),
cents AS (
  SELECT vec_id AS cid, u AS ucent FROM u
  ORDER BY md5(cast(vec_id AS varchar)), vec_id LIMIT 80
),
assign AS (
  SELECT vec_id, cid, row_number() OVER (
    PARTITION BY vec_id
    ORDER BY list_sum(list_transform(range(1, len(u.u) + 1), i -> u.u[i] * c.ucent[i])) DESC, cid
  ) AS r
  FROM u, cents c
),
ivf AS (SELECT vec_id, cid FROM assign WHERE r = 1),
q AS (SELECT vec_id AS query_id, u AS uq FROM u WHERE vec_id % 50 = 0 AND vec_id < 5000),
probe AS (
  SELECT query_id, uq, cid, row_number() OVER (
    PARTITION BY query_id
    ORDER BY list_sum(list_transform(range(1, len(q.uq) + 1), i -> q.uq[i] * c.ucent[i])) DESC, cid
  ) AS r
  FROM q, cents c
),
cand AS (
  SELECT p.query_id, p.uq, f.vec_id AS neighbor_id
  FROM probe p JOIN ivf f ON p.cid = f.cid
  WHERE p.r <= 16 AND p.query_id <> f.vec_id
),
scored AS (
  SELECT query_id, neighbor_id,
         list_sum(list_transform(range(1, len(c.uq) + 1), i -> c.uq[i] * u.u[i])) AS cos
  FROM cand c JOIN u ON c.neighbor_id = u.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos, row_number() OVER (
    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos4
FROM ranked WHERE rank <= 3 ORDER BY query_id, rank
"""

  /** One exact Lloyd (k-means) iteration — the IVF centroid TRAINING
    * step (sim_ann_ivf consumes centroids; this is how they get
    * better): assign every vector to its nearest of 8 deterministic
    * seed centroids by squared-L2, then emit the per-(cluster,
    * dimension) count and coordinate sum the next centroids are built
    * from.
    *
    * Exactness: vectors are quantized to integer micros
    * (`floor(x*1e6 + 0.5)` — same doubles, same floor, both engines),
    * so distances, the argmin, and the update sums are all integer
    * arithmetic — a bit-exact hash gate on a clustering step.
    *
    * Scale shape: the 8 centroids are collected to the driver
    * (k·dim ≈ 512 longs — exactly how MLlib's KMeans holds centroids
    * between iterations) and embedded as literals, so assignment is a
    * NARROW projection — no join, no shuffle; the update is one
    * map-side-combinable aggregation over (cid, pos). Per iteration at
    * 100 TB: one scan + one 512-group shuffle. The argmin is
    * `array_min` over `struct(dist, cid)` — lexicographic struct
    * ordering gives the deterministic (dist, cid) tie-break for free.
    */
  def kmeansStep(spark: SparkSession, sfDir: String): DataFrame = {
    val nList = 8
    val q = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        transform(col("embedding"), (x: Column) =>
          floor(x.cast("double") * lit(1000000.0) + lit(0.5)).cast("bigint"))
          .as("q"))
    // Seed centroids: the 8 vectors with smallest md5(vec_id) — the
    // same deterministic sample rule as sim_ann_ivf's centroid table.
    val seeds: Array[Seq[Long]] = q
      .withColumn("m", md5(col("vec_id").cast("string")))
      .orderBy("m").limit(nList)
      .select("q").collect().map(_.getSeq[Long](0))
    val candidates = seeds.zipWithIndex.map { case (cq, cid) =>
      struct(
        aggregate(
          zip_with(col("q"), typedlit(cq), (a: Column, b: Column) => (a - b) * (a - b)),
          lit(0L), (acc: Column, x: Column) => acc + x).as("d"),
        lit(cid.toLong).as("cid"))
    }
    q.withColumn("best", array_min(array(candidates: _*)))
      .select(col("best.cid").as("cid"), posexplode(col("q")))
      .groupBy("cid", "pos")
      .agg(count(lit(1)).as("n"), sum(col("col")).as("sum_q"))
      .select(col("cid"), col("pos").cast("bigint").as("pos"),
              col("n"), col("sum_q"))
      .orderBy("cid", "pos")
  }

  val kmeansStepOracle: String = """
WITH q AS (
  -- DuckDB 1.0 has no WITH ORDINALITY: index the list by position
  SELECT vec_id, p.i - 1 AS pos,
         cast(floor(cast(embedding[p.i] AS double) * 1000000.0 + 0.5)
              AS bigint) AS qv
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS p(i)
),
cent AS (
  SELECT vec_id AS cvid,
         row_number() OVER (ORDER BY md5(vec_id::varchar)) - 1 AS cid
  FROM embeddings ORDER BY md5(vec_id::varchar) LIMIT 8
),
cq AS (
  SELECT c.cid, q.pos, q.qv AS cqv FROM cent c JOIN q ON q.vec_id = c.cvid
),
dist AS (
  SELECT q.vec_id, cq.cid, sum((q.qv - cq.cqv) * (q.qv - cq.cqv)) AS d
  FROM q JOIN cq ON q.pos = cq.pos GROUP BY q.vec_id, cq.cid
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM dist) WHERE rn = 1
)
SELECT a.cid, q.pos, count(*) AS n, cast(sum(q.qv) AS bigint) AS sum_q
FROM assign a JOIN q ON q.vec_id = a.vec_id
GROUP BY a.cid, q.pos ORDER BY cid, pos
"""

  /** Symmetric int8 quantization of the embedding corpus — the 4×
    * storage/bandwidth compression a 100 TB vector store ships with
    * (codes live in fast storage, floats in cold; rerank dequantizes).
    * Scale = global max |x| (order-independent, exact on floats),
    * fetched as one driver scalar; codes = floor(x/smax·127 + 0.5)
    * clamped to ±127 — a narrow projection. The gate hash-matches the
    * integer code statistics exactly, and the dequantization error
    * bound (max |x − code·smax/127| ≤ smax/127, floor'd to micros via
    * the identical-expression-tree recipe) is checked per vector.
    */
  def quantizeInt8(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val smax = emb.select(
      max(expr("array_max(transform(embedding, x -> abs(cast(x as double))))"))
        .as("m")).first().getDouble(0)
    emb.select(col("vec_id"),
        expr(s"transform(embedding, x -> cast(greatest(-127.0, least(127.0," +
          s" floor(cast(x as double) / $smax * 127.0 + 0.5))) as bigint))")
          .as("codes"),
        col("embedding"))
      .select(col("vec_id"),
        expr("aggregate(codes, cast(0 as bigint), (a, c) -> a + c)")
          .as("sum_code"),
        expr("array_min(codes)").as("min_code"),
        expr("array_max(codes)").as("max_code"),
        expr("size(filter(codes, c -> c = 127 or c = -127))").cast("bigint")
          .as("n_sat"),
        expr(s"cast(floor(1000000.0 * array_max(zip_with(embedding, codes," +
          s" (x, c) -> abs(cast(x as double) - cast(c as double) * $smax / 127.0)))) as bigint)")
          .as("max_err_micros"))
      .orderBy("vec_id")
  }

  val quantizeInt8Oracle: String = """
WITH s AS (
  SELECT max(list_max(list_transform(embedding, x -> abs(x::double)))) AS smax
  FROM embeddings
),
q AS (
  SELECT vec_id, embedding,
         list_transform(embedding, x -> cast(greatest(-127.0, least(127.0,
           floor(x::double / s.smax * 127.0 + 0.5))) AS bigint)) AS codes,
         s.smax AS smax
  FROM embeddings, s
)
SELECT vec_id,
       cast(list_sum(codes) AS bigint) AS sum_code,
       list_min(codes) AS min_code,
       list_max(codes) AS max_code,
       cast(len(list_filter(codes, c -> c = 127 OR c = -127)) AS bigint)
         AS n_sat,
       cast(floor(1000000.0 * list_max(list_transform(range(1, len(codes) + 1),
         i -> abs(embedding[i]::double - codes[i]::double * smax / 127.0))))
         AS bigint) AS max_err_micros
FROM q ORDER BY vec_id
"""

  /** sim_mips_topk: maximum-inner-product retrieval for a bounded query
    * set — the recommendation-scoring objective (user·item dot product,
    * NOT cosine: a long vector should outrank a near-parallel short
    * one, so the vectors are deliberately unnormalized). Query set =
    * `vec_id % 50 == 25` — fixed-size, deterministic, disjoint from the
    * cosine suite's query ids, O(|Q|·N) scan like [[topkBruteForce]].
    * Scoring reuses the codegen'd [[graft.functions.DotProduct]];
    * ranking is (ip desc, neighbor_id) — bit-identical doubles both
    * engines (same left-to-right fold), so the order is deterministic.
    *
    * Scale: |Q| is constant, so the join is a broadcast of Q against a
    * single pass over the corpus; the per-query top-5 is a bounded
    * window per query key. The IVF/LSH families hold the sublinear
    * slot; this pins exact MIPS semantics.
    */
  def mipsTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        transform(col("embedding"), (x: Column) => x.cast("double")).as("v"))
    val q = vecs.toDF("query_id", "vq")
      .where(col("query_id") % 50 === 25 && col("query_id") < 5000)
    val c = vecs.toDF("neighbor_id", "vc")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ip").desc, col("neighbor_id"))
    q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
              dot(col("vq"), col("vc")).as("ip"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
              round(col("ip"), 4).as("ip4"))
      .orderBy("query_id", "rank")
  }

  val mipsTopkOracle: String = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]))
           AS ip
  FROM v q JOIN v c
    ON q.vec_id % 50 = 25 AND q.vec_id < 5000 AND q.vec_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, ip,
         row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, neighbor_id)
           AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, round(ip, 4) AS ip4
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""

  /** sim_pq_assign: product-quantization encoding — the memory layout
    * IVF-PQ indexes (FAISS-style) use to hold billion-vector corpora in
    * RAM: the 64-dim vector splits into 8 contiguous 8-dim subvectors,
    * each encoded independently as its nearest centroid from a 4-entry
    * per-subspace codebook, compressing 256 float bytes to 8 code
    * bits·8. Graded output is the per-(subspace, code) occupancy and
    * total distortion — the codebook-health profile a PQ training loop
    * monitors (a dead code or a distortion-hogging cell means retrain).
    *
    * Exactness: vectors enter as the SAME global-smax int8 codes the
    * sim_quantize_int8 gate pins; the codebook is a fixed integer
    * formula `cb(s,c,j) = ((131·s + 37·c + 11·j) mod 256) − 128`
    * (deterministic, engine-neutral — standing in for trained
    * centroids, which would arrive as literals exactly like
    * kmeans_step's), so distances, argmins (tie → lower code), and
    * distortion sums are pure int64 arithmetic with ~5·10⁵ headroom
    * per cell.
    *
    * Scale shape: assignment is a NARROW projection through the
    * codegen'd [[graft.functions.PqAssign]] expression (the same
    * kernel declared as an unrolled 8×4×8 expression tree generated a
    * >64 KB method — Janino rejects it and the stage silently fell
    * back to interpreted eval; the custom expression is three tight
    * loops that stay inside WholeStageCodegen), followed by one
    * 32-group map-side-combinable aggregation; no join, no wide
    * explode on the hot path. Per 100 TB scan: one pass.
    */
  def pqAssign(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val smax = emb.select(
      max(expr("array_max(transform(embedding, x -> abs(cast(x as double))))"))
        .as("m")).first().getDouble(0)
    val codes = emb.select(col("vec_id"),
      expr(s"transform(embedding, x -> cast(greatest(-127.0, least(127.0," +
        s" floor(cast(x as double) / $smax * 127.0 + 0.5))) as bigint))")
        .as("q"))
    codes
      .select(posexplode(graft.functions.PqAssign(col("q"))))
      .select(col("pos").cast("long").as("sub"),
        (col("col") % 4).as("code"), expr("col div 4").as("dmin"))
      .groupBy("sub", "code")
      .agg(count(lit(1)).as("n_vecs"), sum(col("dmin")).as("distortion"))
      .orderBy("sub", "code")
  }

  val pqAssignOracle: String = """
WITH s AS (
  SELECT max(list_max(list_transform(embedding, x -> abs(x::double)))) AS smax
  FROM embeddings
),
q AS (
  SELECT vec_id,
         list_transform(embedding, x -> cast(greatest(-127.0, least(127.0,
           floor(x::double / s.smax * 127.0 + 0.5))) AS bigint)) AS q
  FROM embeddings, s
),
d AS (
  SELECT vec_id, sub.s AS sub, cc.c AS code,
         sum((q.q[sub.s * 8 + jj.j + 1]
              - (((131 * sub.s + 37 * cc.c + 11 * jj.j) % 256) - 128))
             * (q.q[sub.s * 8 + jj.j + 1]
              - (((131 * sub.s + 37 * cc.c + 11 * jj.j) % 256) - 128))) AS d
  FROM q,
       (SELECT unnest(range(0, 8)) AS s) sub,
       (SELECT unnest(range(0, 4)) AS c) cc,
       (SELECT unnest(range(0, 8)) AS j) jj
  GROUP BY vec_id, sub.s, cc.c
),
a AS (
  SELECT vec_id, sub, min(d * 4 + code) AS enc
  FROM d GROUP BY vec_id, sub
)
SELECT sub, CAST(enc % 4 AS BIGINT) AS code, count(*) AS n_vecs,
       CAST(sum(enc // 4) AS BIGINT) AS distortion
FROM a GROUP BY sub, enc % 4 ORDER BY sub, code
"""

  /** sim_binary_sign_ann: 1-bit (sign) embedding quantization + exact
    * Hamming top-5 — the binary-code ANN family member (BinaryQuantizer
    * / "binary embeddings"): 64 float dims collapse to 64 BITS, a 256×
    * compression whose Hamming distance is a monotone proxy for angular
    * distance, computed with two XOR+popcount instructions. The
    * signature packs as TWO 32-bit halves (never a sign-bit-setting
    * 2⁶³ term, and DuckDB's `list_sum` HUGEINT widening casts back to
    * BIGINT losslessly), so every value is pure int64 cross-engine.
    * Same bounded query set as [[topkBruteForce]] (≤100 queries at any
    * corpus size ⇒ the exact scan is O(|Q|·N), linear in N); recall vs
    * the float top-5 is asserted in SimilaritySpec, and at 100 TB the
    * signatures are 16 bytes/vector — the rerank index that fits in
    * memory when floats don't.
    */
  def binarySignAnn(spark: SparkSession, sfDir: String): DataFrame = {
    def half(offset: Int): String =
      s"aggregate(transform(slice(embedding, $offset, 32), " +
        "(x, i) -> IF(x > 0, shiftleft(1L, i), 0L)), 0L, (acc, v) -> acc + v)"
    val sig = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr(half(1)).as("lo"), expr(half(33)).as("hi"))
      .localCheckpoint() // query and corpus side share the one scan
    val q = sig.toDF("query_id", "qlo", "qhi")
      .where(col("query_id") % 50 === 0 && col("query_id") < 5000)
    val c = sig.toDF("neighbor_id", "clo", "chi")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("neighbor_id"))
    q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (expr("bit_count(qlo ^ clo)") + expr("bit_count(qhi ^ chi)"))
          .cast("int").as("hamming"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("hamming"))
      .orderBy("query_id", "rank")
  }

  val binarySignAnnOracle: String = """
WITH sig AS (
  SELECT vec_id,
         CAST(list_sum(list_transform(range(0, 32),
           i -> CASE WHEN embedding[i + 1] > 0
                THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS lo,
         CAST(list_sum(list_transform(range(0, 32),
           i -> CASE WHEN embedding[i + 33] > 0
                THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS hi
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi)) AS hamming
  FROM sig q JOIN sig c
    ON q.vec_id % 50 = 0 AND q.vec_id < 5000 AND q.vec_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, hamming,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY hamming, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, CAST(hamming AS INT) AS hamming
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""

  /** sim_matryoshka: prefix-dimension retrieval funnel — the Matryoshka
    * (MRL) pattern: a COARSE pass scores every vector by the dot
    * product of the first 16 of 64 components (¼ the arithmetic, and
    * at 100 TB the prefix is a separate narrow column so the coarse
    * scan reads ¼ the bytes), keeps the top-20 candidates per query,
    * and only those 20 pay the full-dimension exact rerank → top-5.
    * Both stages are fully deterministic (left-to-right fold dot, id
    * tie-breaks), so the oracle reproduces the ENTIRE funnel — the
    * graded result pins coarse ranking, candidate cut, and rerank, not
    * just the final scores. Complements the other retrieval funnels:
    * LSH buckets (sim_ann_lsh), IVF probes (sim_ann_ivf), binary signs
    * (sim_binary_sign_ann); this one needs no index at all, just
    * column layout.
    *
    * Scale: same bounded query set as [[topkBruteForce]] (≤100 ids) ⇒
    * the coarse scan is O(|Q|·N) linear in N; the rerank touches
    * |Q|·20 rows. funnel_recall5 vs the full-dim exact top-5 is
    * asserted in SimilaritySpec.
    */
  def matryoshka(spark: SparkSession, sfDir: String): DataFrame = {
    val n = normalized(spark, sfDir)
      .select(col("vec_id"), col("u"), slice(col("u"), 1, 16).as("p"))
      .localCheckpoint() // query and corpus side share the one scan
    val q = n.toDF("query_id", "uq", "pq")
      .where(col("query_id") % 50 === 0 && col("query_id") < 5000)
    val c = n.toDF("neighbor_id", "uc", "pc")
    val wCoarse = Window.partitionBy(col("query_id"))
      .orderBy(col("coarse").desc, col("neighbor_id"))
    val wFine = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("uq"), col("uc"),
              dot(col("pq"), col("pc")).as("coarse"))
      .withColumn("coarse_rank", row_number().over(wCoarse))
      .where(col("coarse_rank") <= 20)
      .select(col("query_id"), col("neighbor_id"), col("coarse_rank"),
              dot(col("uq"), col("uc")).as("cos"))
      .withColumn("rank", row_number().over(wFine))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
              col("coarse_rank"), round(col("cos"), 4).as("cos4"))
      .orderBy("query_id", "rank")
  }

  val matryoshkaOracle: String = """
WITH n AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::double) AS v,
         sqrt(list_sum(list_transform(embedding,
           x -> (x::double) * (x::double)))) AS nrm
  FROM embeddings
),
u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM n),
coarse AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         q.u AS uq, c.u AS uc,
         list_sum(list_transform(range(1, 17), i -> q.u[i] * c.u[i]))
           AS coarse
  FROM u q JOIN u c
    ON q.vec_id % 50 = 0 AND q.vec_id < 5000 AND q.vec_id <> c.vec_id
),
cand AS (
  SELECT query_id, neighbor_id, uq, uc,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY coarse DESC, neighbor_id) AS coarse_rank
  FROM coarse
),
fine AS (
  SELECT query_id, neighbor_id, coarse_rank,
         list_sum(list_transform(range(1, len(uq) + 1),
           i -> uq[i] * uc[i])) AS cos
  FROM cand WHERE coarse_rank <= 20
),
ranked AS (
  SELECT query_id, neighbor_id, coarse_rank, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM fine
)
SELECT query_id, rank, neighbor_id, coarse_rank, round(cos, 4) AS cos4
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""

  /** sim_threshold_sweep: similarity-threshold calibration — the pair
    * count at candidate thresholds (0.30 / 0.35 / 0.40), computed
    * exactly over the bounded deterministic subset (`vec_id < 1000`,
    * the same cap as the dedup_embedding_clusters baseline). This is
    * the sweep a pipeline owner runs BEFORE fixing a near-dup
    * threshold: each threshold's blast radius, plus the score range,
    * in one pass over the pair scores.
    *
    * Scale: the exact pair scan is the bounded-subset correctness
    * baseline (≤ cap²/2 pairs at any corpus size); a corpus-wide sweep
    * rides the LSH-bucketed path with per-bucket counting instead.
    */
  def thresholdSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val n = normalized(spark, sfDir).where(col("vec_id") < 1000)
      .localCheckpoint()
    val cnt = n.count()
    require(cnt <= 2000, s"threshold sweep subset is $cnt rows — cap blown")
    n.toDF("a", "ua").join(n.toDF("b", "ub"), col("a") < col("b"))
      .select(dot(col("ua"), col("ub")).as("cos"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("cos") >= 0.30, 1L).otherwise(0L)).as("n_ge_30"),
        sum(when(col("cos") >= 0.35, 1L).otherwise(0L)).as("n_ge_35"),
        sum(when(col("cos") >= 0.40, 1L).otherwise(0L)).as("n_ge_40"),
        round(min(col("cos")), 4).as("min_cos4"),
        round(max(col("cos")), 4).as("max_cos4"))
  }

  val thresholdSweepOracle: String = """
WITH n AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::double) AS v,
         sqrt(list_sum(list_transform(embedding,
           x -> (x::double) * (x::double)))) AS nrm
  FROM embeddings WHERE vec_id < 1000
),
u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM n),
p AS (
  SELECT list_sum(list_transform(range(1, len(a.u) + 1),
           i -> a.u[i] * b.u[i])) AS cos
  FROM u a JOIN u b ON a.vec_id < b.vec_id
)
SELECT count(*) AS n_pairs,
       CAST(sum(CASE WHEN cos >= 0.30 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_ge_30,
       CAST(sum(CASE WHEN cos >= 0.35 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_ge_35,
       CAST(sum(CASE WHEN cos >= 0.40 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_ge_40,
       round(min(cos), 4) AS min_cos4,
       round(max(cos), 4) AS max_cos4
FROM p
"""

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_threshold_sweep" -> (thresholdSweep _),
    "sim_matryoshka" -> (matryoshka _),
    "sim_binary_sign_ann" -> (binarySignAnn _),
    "sim_pq_assign" -> (pqAssign _),
    "sim_mips_topk" -> (mipsTopk _),
    "sim_quantize_int8" -> (quantizeInt8 _),
    "sim_kmeans_step" -> (kmeansStep _),
    "sim_cosine_pairs" -> (cosinePairs _),
    "sim_topk_bruteforce" -> (topkBruteForce _),
    "sim_mmr" -> (mmrRerank _),
    "sim_ann_lsh" -> (annLsh _),
    "sim_ann_ivf" -> (annIvf _),
  )

  val oracles: Map[String, String] = Map(
    "sim_threshold_sweep" -> thresholdSweepOracle,
    "sim_matryoshka" -> matryoshkaOracle,
    "sim_binary_sign_ann" -> binarySignAnnOracle,
    "sim_pq_assign" -> pqAssignOracle,
    "sim_mips_topk" -> mipsTopkOracle,
    "sim_quantize_int8" -> quantizeInt8Oracle,
    "sim_kmeans_step" -> kmeansStepOracle,
    "sim_cosine_pairs" -> cosinePairsOracle,
    "sim_topk_bruteforce" -> topkOracle,
    "sim_mmr" -> mmrOracle,
    "sim_ann_lsh" -> annLshOracle,
    "sim_ann_ivf" -> annIvfOracle,
  )
}
