package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.cc.ConnectedComponents

/** Deduplication suite over `documents` — the LLM-training-pipeline
  * operators: exact (normalized-key groupBy), MinHash+LSH
  * (shingle→minhash→band→bucket-join→verify→cluster via our own CC),
  * SimHash fingerprinting, and exact n-gram Jaccard pairs.
  *
  * Everything is deterministic and DuckDB-oracle-checkable: hashes are
  * md5 (identical hex in both engines), minima over md5 strings are
  * valid minhashes, and jaccard thresholds compare integers
  * (τ·|A∪B| ≤ |A∩B| cross-multiplied) so no float boundary exists.
  */
object DedupQueries {

  /** Distinct-token-set tokens per doc (word-level shingles), memoized
    * checkpointed (r14): five graded queries derive from it (exact,
    * minhash est, both simhash rows, CDC) and each used to re-split the
    * corpus per invocation — a derived table, not a subquery
    * (guide §2.4; the GraphQueries edge-memo discipline).
    */
  private val toksMemo = new Memo[DataFrame]
  private def docTokens(spark: SparkSession, sfDir: String): DataFrame =
    toksMemo(spark, sfDir) { (s, d) =>
      Pin(Tables.documents(s, d)
        .select(col("doc_id"),
                array_distinct(split(col("text"), " ")).as("tokens")))
    }

  // ---------------------------------------------------------------
  // Exact dedup: canonical id per normalized token-set key.
  // ---------------------------------------------------------------

  def dedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("key"))
    docTokens(spark, sfDir)
      .select(col("doc_id"),
              concat_ws(" ", sort_array(col("tokens"))).as("key"))
      .select(col("doc_id"),
              min(col("doc_id")).over(w).as("canonical_id"),
              count(lit(1)).over(w).as("group_size"))
      .orderBy("doc_id")
  }

  val dedupExactOracle: String = """
SELECT doc_id,
  min(doc_id) OVER (PARTITION BY key) AS canonical_id,
  count(*) OVER (PARTITION BY key) AS group_size
FROM (
  SELECT doc_id,
         array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS key
  FROM documents
)
ORDER BY doc_id
"""

  // ---------------------------------------------------------------
  // MinHash + LSH near-dup clustering (verified, then clustered with
  // our Large/Small-Star CC). 16 minhashes, 2 bands x 8 rows,
  // verification threshold: token-set jaccard >= 0.8.
  // ---------------------------------------------------------------

  private val NumHashes = 16
  private val BandSize = 8
  private val MaxBucket = 50

  /** Verified near-duplicate pairs (a < b) from the LSH pipeline.
    *
    * Banding is 2 bands × 8 rows: this corpus draws from a ~31-word
    * vocabulary, so the pairwise unigram-jaccard distribution has a fat
    * middle (median 0.63) that narrow bands would sweep wholesale into
    * the candidate set. Hot buckets (> MaxBucket docs) are dropped — the
    * standard LSH guard against degenerate buckets; at 100 TB this is
    * what keeps a skewed bucket from quadratic blowup.
    *
    * Reused stages are localCheckpoint'ed: the token sets feed the
    * signature build AND both verification sides, and the bands feed a
    * self-join — without the checkpoint Spark recomputes the md5
    * signature pipeline once per branch.
    */
  def minhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = docTokens(spark, sfDir) // memoized checkpointed
    val exploded = toks.select(col("doc_id"), explode(col("tokens")).as("token"))
    // signature_i = min over tokens of md5(i || ':' || token)
    val sigCols = (0 until NumHashes).map(i =>
      min(md5(concat(lit(s"$i:"), col("token")))).as(s"s$i"))
    val sigs = exploded.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
    // band_j = j || ':' || md5(s_{8j} | ... | s_{8j+7})
    val bandCols = (0 until NumHashes / BandSize).map { j =>
      val parts = (0 until BandSize).map(k => col(s"s${j * BandSize + k}"))
      concat(lit(s"$j:"), md5(concat_ws("|", parts: _*)))
    }
    val bands = sigs.select(col("doc_id"),
      explode(array(bandCols: _*)).as("band")).localCheckpoint()
    // Cold-band list rows ≤ band rows (2/doc, checkpointed → cheap
    // count); a 100 TB corpus degrades this semi-join filter to an
    // AQE-planned shuffle join instead of OOMing the broadcast.
    val coldBands = bands.join(
      Hints.maybeBroadcast(
        bands.groupBy("band").count().where(col("count") <= MaxBucket),
        bands.count())
        .select("band"),
      "band")
    val cand = coldBands.as("x").join(coldBands.as("y"),
        col("x.band") === col("y.band") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .dropDuplicates()
    // verify: |A∩B| * 5 >= |A∪B| * 4  (jaccard >= 0.8, integer-exact)
    val ta = toks.select(col("doc_id").as("a"), col("tokens").as("ta"))
    val tb = toks.select(col("doc_id").as("b"), col("tokens").as("tb"))
    cand.join(ta, "a").join(tb, "b")
      .select(col("a"), col("b"),
              size(array_intersect(col("ta"), col("tb"))).as("inter"),
              size(array_union(col("ta"), col("tb"))).as("uni"))
      .where(col("inter") * 5 >= col("uni") * 4)
      .select(col("a"), col("b"))
  }

  /** dedup_minhash_est: MinHash estimator-accuracy gate — the sketch
    * family's missing audit row (CMS has never-under, HLL/theta/KMV
    * have error bands, Bloom has its FP count). For the 20
    * highest-overlap band-collision candidate pairs, grade the
    * signature-agreement Jaccard estimate (`matches/16` in ppm)
    * side-by-side with the EXACT token Jaccard — the numbers a dedup
    * operator compares when tuning bands × rows against a recall
    * target. Everything is md5/integer arithmetic, so both columns
    * hash-gate exactly.
    *
    * Scale: signatures are one map-side agg over the token explosion
    * (the same shape the clustering path memoizes); candidates come
    * from the same capped band buckets; the top-20 is a bounded sort
    * over the candidate set, which the bucket cap keeps linear.
    */
  /** Array-form minhash signatures, memoized checkpointed (r14): the
    * 16 md5-min aggregates over the token explosion are the estimator
    * row's dominant cost and were rebuilt per invocation.
    */
  private val sigsMemo = new Memo[DataFrame]
  private def minhashSigs(spark: SparkSession, sfDir: String): DataFrame =
    sigsMemo(spark, sfDir) { (s, d) =>
      val exploded = docTokens(s, d)
        .select(col("doc_id"), explode(col("tokens")).as("token"))
      val sigCols = (0 until NumHashes).map(i =>
        min(md5(concat(lit(s"$i:"), col("token")))).as(s"s$i"))
      Pin(exploded.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
        .select(col("doc_id"),
          array((0 until NumHashes).map(i => col(s"s$i")): _*).as("sig")))
    }

  def minhashEst(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = docTokens(spark, sfDir) // memoized checkpointed
    val sigs = minhashSigs(spark, sfDir)
    val bandCols = (0 until NumHashes / BandSize).map { j =>
      val parts = (j * BandSize until (j + 1) * BandSize)
        .map(i => element_at(col("sig"), i + 1))
      concat(lit(s"$j:"), md5(concat_ws("|", parts: _*)))
    }
    val bands = sigs.select(col("doc_id"),
      explode(array(bandCols: _*)).as("band"))
    val coldBands = bands.join(
      Hints.maybeBroadcast(
        bands.groupBy("band").count().where(col("count") <= MaxBucket),
        bands.count())
        .select("band"),
      "band")
    val cand = coldBands.as("x").join(coldBands.as("y"),
        col("x.band") === col("y.band") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .dropDuplicates()
    val matches = (0 until NumHashes).map(i =>
      when(element_at(col("sa"), i + 1) === element_at(col("sb"), i + 1), 1L)
        .otherwise(0L)).reduce(_ + _)
    cand
      .join(sigs.toDF("a", "sa"), "a")
      .join(sigs.toDF("b", "sb"), "b")
      .join(toks.toDF("a", "ta"), "a")
      .join(toks.toDF("b", "tb"), "b")
      .select(col("a"), col("b"), matches.as("m"),
        size(array_intersect(col("ta"), col("tb"))).cast("long").as("inter"),
        (size(col("ta")) + size(col("tb")) -
          size(array_intersect(col("ta"), col("tb")))).cast("long").as("uni"))
      .select(col("a"), col("b"),
        expr(s"(m * 1000000) div $NumHashes").as("est_ppm"),
        expr("(inter * 1000000) div uni").as("exact_ppm"))
      .orderBy(col("exact_ppm").desc, col("a"), col("b"))
      .limit(20)
  }

  val minhashEstOracle: String = s"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
  FROM documents
),
sigs AS (
  SELECT doc_id, i,
         min(md5(i || ':' || token)) AS sig
  FROM toks, unnest(range(0, $NumHashes)) AS u(i)
  GROUP BY doc_id, i
),
sigl AS (
  SELECT doc_id, list(sig ORDER BY i) AS sl FROM sigs GROUP BY doc_id
),
bands AS (
  SELECT doc_id,
         (i // $BandSize) || ':' || md5(string_agg(sig, '|' ORDER BY i)) AS band
  FROM sigs
  GROUP BY doc_id, (i // $BandSize)
),
cold AS (
  SELECT band FROM bands GROUP BY band HAVING count(*) <= $MaxBucket
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y ON x.band = y.band AND x.doc_id < y.doc_id
  WHERE x.band IN (SELECT band FROM cold)
),
tsets AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts FROM documents
),
scored AS (
  SELECT a, b,
         len(list_filter(range(1, $NumHashes + 1),
             i -> sa.sl[i] = sb.sl[i])) AS m,
         len(list_intersect(ta.ts, tb.ts)) AS inter,
         len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts)) AS uni
  FROM cand JOIN sigl sa ON cand.a = sa.doc_id
            JOIN sigl sb ON cand.b = sb.doc_id
            JOIN tsets ta ON cand.a = ta.doc_id
            JOIN tsets tb ON cand.b = tb.doc_id
)
SELECT a, b,
       (m * 1000000) // $NumHashes AS est_ppm,
       (inter * 1000000) // uni AS exact_ppm
FROM scored ORDER BY exact_ppm DESC, a, b LIMIT 20
"""

  /** Cluster assignment for every document: CC over verified pairs plus
    * a self-pair per doc (singletons stay their own cluster).
    *
    * Memoized per (session, sfDir): the driver's Verify/Bench mains run
    * each query independently, and both `dedup_minhash_clusters` and
    * `pipe_dedup_merge` sit on this assignment — one LSH pipeline + CC
    * instead of two (the CC result is checkpoint-backed, so reuse costs
    * no recompute).
    */
  private val minhashMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def dedupMinhashClusters(spark: SparkSession, sfDir: String): DataFrame = {
    // Bounded like CCQueries.ccMemo: never fires in harness runs,
    // prevents unbounded growth in a long-lived service.
    if (minhashMemo.size > 4) minhashMemo.clear()
    minhashMemo.computeIfAbsent((spark, sfDir), { case (s, d) =>
      val pairs = minhashPairs(s, d)
        .select(col("b").as("src"), col("a").as("dst"))
      val selfPairs = Tables.documents(s, d)
        .select(col("doc_id").as("src"), col("doc_id").as("dst"))
      val res = ConnectedComponents.runAuto(pairs.union(selfPairs), maxIterations = 20)
      require(res.converged, "minhash CC did not converge")
      res.assignments.toDF("doc_id", "cluster")
    }).orderBy("doc_id")
  }

  /** Oracle tail shared by the near-duplicate clusterings: the `(a, b)`
    * pairs of `pairs`, labelled by [[Oracles.minLabel]] over every `id`
    * of `from` (singletons stay their own cluster), as `(id, cluster)`.
    */
  private[graft] def clusterOracle(id: String, from: String, pairs: String): String =
    Oracles.minLabel("lab", s"(SELECT $id AS node FROM $from)",
      s"(SELECT a AS src, b AS dst FROM $pairs)") + s"""
SELECT node AS $id, comp AS cluster FROM lab ORDER BY $id
"""

  val dedupMinhashOracle: String = s"""
WITH RECURSIVE toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
  FROM documents
),
sigs AS (
  SELECT doc_id, i,
         min(md5(i || ':' || token)) AS sig
  FROM toks, unnest(range(0, $NumHashes)) AS u(i)
  GROUP BY doc_id, i
),
bands AS (
  SELECT doc_id, (i // $BandSize) AS band_idx,
         (i // $BandSize) || ':' || md5(string_agg(sig, '|' ORDER BY i)) AS band
  FROM sigs
  GROUP BY doc_id, (i // $BandSize)
),
cold AS (
  SELECT band FROM bands GROUP BY band HAVING count(*) <= $MaxBucket
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y ON x.band = y.band AND x.doc_id < y.doc_id
  WHERE x.band IN (SELECT band FROM cold)
),
tsets AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts FROM documents
),
verified AS (
  SELECT a, b FROM (
    SELECT a, b,
           len(list_intersect(ta.ts, tb.ts)) AS inter,
           len(ta.ts) + len(tb.ts) - len(list_intersect(ta.ts, tb.ts)) AS uni
    FROM cand JOIN tsets ta ON cand.a = ta.doc_id
              JOIN tsets tb ON cand.b = tb.doc_id
  ) WHERE inter * 5 >= uni * 4
),${clusterOracle("doc_id", "documents", "verified")}
"""

  // ---------------------------------------------------------------
  // SimHash: 32-bit fingerprint from per-token md5-derived hashes.
  // ---------------------------------------------------------------

  /** (doc_id, simhash) fingerprints — shared by [[dedupSimhash]] and
    * [[dedupSimhashClusters]], memoized checkpointed (r14): the
    * md5-per-token explosion + 32 bit-sum aggregates ran once per
    * invocation of EACH of the two queries.
    */
  private val simhashMemo = new Memo[DataFrame]
  private def simhashFingerprints(spark: SparkSession, sfDir: String): DataFrame =
    simhashMemo(spark, sfDir) { (s, d) =>
      val toks = docTokens(s, d)
        .select(col("doc_id"), explode(col("tokens")).as("token"))
        .withColumn("h", conv(substring(md5(col("token")), 1, 8), 16, 10).cast("bigint"))
      // per bit b: sum over tokens of (bit set ? +1 : -1); fingerprint has
      // bit b set iff the sum is positive.
      val bitSums = (0 until 32).map(b =>
        sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"b$b"))
      val perDoc = toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      val fp = (0 until 32).map(b =>
        when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
      Pin(perDoc.select(col("doc_id"), fp.as("simhash")))
    }

  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("simhash"))
    simhashFingerprints(spark, sfDir)
      .select(col("doc_id"), col("simhash"),
              count(lit(1)).over(w).as("n_same_fp"))
      .orderBy("doc_id")
  }

  /** SimHash near-dup clustering: the fingerprints banded into two
    * 16-bit halves (pigeonhole: any pair at hamming distance <= 1
    * shares at least one untouched half, so band-join recall is exact
    * for the verify radius), hot bands capped at [[SimhashMaxBand]]
    * docs (same quadratic-blowup guard as the MinHash path; the cap is
    * wider because 16-bit bands on a self-similar corpus carry much
    * higher natural occupancy than 128-bit minhash bands — 50 was
    * measured to drop whole duplicate groups on the testdata),
    * candidates verified with the exact popcount(xor) <= 1, clusters
    * via our CC. Candidate cost is O(N · band occupancy), linear in N
    * under the cap.
    */
  private val SimhashMaxBand = 256

  def dedupSimhashClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val fp = simhashFingerprints(spark, sfDir) // memoized checkpointed
    val bands = fp.select(col("doc_id"), col("simhash"),
        explode(array(
          (lit(0L) * 65536 + shiftright(col("simhash"), 0).bitwiseAND(lit(65535L))),
          (lit(1L) * 65536 + shiftright(col("simhash"), 16).bitwiseAND(lit(65535L)))
        )).as("band"))
    val cold = bands.join(
      broadcast(bands.groupBy("band").count().where(col("count") <= SimhashMaxBand))
        .select("band"),
      "band")
    val verified = cold.as("x").join(cold.as("y"),
        col("x.band") === col("y.band") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
              col("x.simhash").as("sa"), col("y.simhash").as("sb"))
      .dropDuplicates("a", "b")
      .where(bit_count(col("sa").bitwiseXOR(col("sb"))) <= 1)
      .select(col("a"), col("b"))
    val selfPairs = Tables.documents(spark, sfDir)
      .select(col("doc_id").as("src"), col("doc_id").as("dst"))
    val res = ConnectedComponents.runAuto(
      verified.select(col("b").as("src"), col("a").as("dst")).union(selfPairs),
      maxIterations = 20)
    require(res.converged, "simhash CC did not converge")
    res.assignments.toDF("doc_id", "cluster").orderBy("doc_id")
  }

  val dedupSimhashClustersOracle: String = s"""
WITH RECURSIVE toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
  FROM documents
),
hashed AS (
  SELECT doc_id, cast('0x' || substr(md5(token), 1, 8) AS bigint) AS h FROM toks
),
bitsums AS (
  SELECT doc_id, b,
         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM hashed, unnest(range(0, 32)) AS u(b)
  GROUP BY doc_id, b
),
fp AS (
  SELECT doc_id,
         cast(sum(CASE WHEN s > 0 THEN (1::bigint << b) ELSE 0 END) AS bigint) AS simhash
  FROM bitsums GROUP BY doc_id
),
bands AS (
  SELECT doc_id, simhash, k * 65536 + ((simhash >> (k * 16)) & 65535) AS band
  FROM fp, unnest(range(0, 2)) AS u(k)
),
cold AS (SELECT band FROM bands GROUP BY band HAVING count(*) <= $SimhashMaxBand),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.simhash AS sa, y.simhash AS sb
  FROM bands x JOIN bands y ON x.band = y.band AND x.doc_id < y.doc_id
  WHERE x.band IN (SELECT band FROM cold)
),
verified AS (SELECT a, b FROM cand WHERE bit_count(xor(sa, sb)) <= 1),
${clusterOracle("doc_id", "documents", "verified")}
"""

  val dedupSimhashOracle: String = """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
  FROM documents
),
hashed AS (
  SELECT doc_id, cast('0x' || substr(md5(token), 1, 8) AS bigint) AS h FROM toks
),
bitsums AS (
  SELECT doc_id, b,
         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM hashed, unnest(range(0, 32)) AS u(b)
  GROUP BY doc_id, b
),
fp AS (
  SELECT doc_id,
         cast(sum(CASE WHEN s > 0 THEN (1::bigint << b) ELSE 0 END) AS bigint) AS simhash
  FROM bitsums GROUP BY doc_id
)
SELECT doc_id, simhash,
       count(*) OVER (PARTITION BY simhash) AS n_same_fp
FROM fp ORDER BY doc_id
"""

  // ---------------------------------------------------------------
  // Exact word-3-gram jaccard pairs (inverted-index join, integer
  // threshold 3gram-jaccard >= 0.02 i.e. inter*50 >= uni).
  // ---------------------------------------------------------------

  /** Stop-gram-filtered trigram inverted index `(doc_id, g)`, memoized
    * checkpointed (r14) — the IDENTICAL index used to be rebuilt per
    * invocation by BOTH [[ngramJaccardPairs]] and [[containmentPairs]]
    * (gram construction + explode + hot-gram anti-join, three scans
    * each). Gram construction is one compiled pass per row: the custom
    * TrigramHashes expression emits distinct 64-bit trigram signatures
    * directly (shuffle-free, codegen'd; see its scaladoc for why the
    * built-in HOF chain was 6× slower). Joining on the hash instead of
    * the ~20-char string halves shuffle bytes; identical pairs (a
    * collision among ~27k distinct grams has p ≈ 2e-11 and the oracle
    * would catch it).
    *
    * Stop-gram guard: grams present in > max(10, 2% of docs) documents
    * are dropped from the index AND from the jaccard universe (both
    * sides of the oracle mirror this). A stop-gram contributes one
    * candidate pair per co-occurring doc pair — quadratic in its DF —
    * while carrying no dedup signal; the DF cap is the textbook fix at
    * 100 TB. The hot set is tiny by construction, so it broadcasts
    * into an anti-join. (On this testdata the cap drops nothing — max
    * DF is 9/500 at sf0.001, 25/5000 at sf0.1 — so the jaccard values
    * are unchanged; the guard is load-bearing only under stop-gram
    * skew, which is exactly when it must be.)
    */
  private val invMemo = new Memo[DataFrame]
  private def trigramInv(spark: SparkSession, sfDir: String): DataFrame =
    invMemo(spark, sfDir) { (s, d) =>
      val grams = Tables.documents(s, d)
        .select(col("doc_id"),
          graft.functions.TrigramHashes(split(col("text"), " ")).as("grams"))
        .where(size(col("grams")) > 0)
      val nDocs = Tables.documents(s, d).count()
      val dfCap = math.max(10L, nDocs * 2 / 100)
      val allInv = grams.select(col("doc_id"), explode(col("grams")).as("g"))
      val hot = allInv.groupBy("g").count().where(col("count") > dfCap).select("g")
      Pin(allInv.join(broadcast(hot), Seq("g"), "left_anti"))
    }

  /** Per-pair shared-trigram counts `(a < b, inter = |A∩B|)` — the
    * inverted-index self-join both jaccard and containment score from,
    * memoized checkpointed (r14): the co-occurrence matrix is ONE
    * derived table; the two scorers used to each run the quadratic
    * join per invocation, and containment additionally ran it UNORDERED
    * (`!=` instead of `<`), doubling its join and aggregate volume for
    * a value (`inter`) that is symmetric in the pair.
    */
  private val sharedMemo = new Memo[DataFrame]
  private def trigramShared(spark: SparkSession, sfDir: String): DataFrame =
    sharedMemo(spark, sfDir) { (s, d) =>
      val inv = trigramInv(s, d)
      Pin(inv.as("x").join(inv.as("y"),
          col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .agg(count(lit(1)).as("inter")))
    }

  def ngramJaccardPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val inv = trigramInv(spark, sfDir) // memoized checkpointed
    val shared = trigramShared(spark, sfDir)
    val sizes = inv.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .select(col("doc_id"), col("n").cast("int").as("n"))
    shared
      .join(sizes.toDF("a", "na"), "a")
      .join(sizes.toDF("b", "nb"), "b")
      .select(col("a"), col("b"), col("inter"),
              (col("na") + col("nb") - col("inter")).as("uni"))
      .where(col("inter") * 50 >= col("na") + col("nb") - col("inter"))
      .orderBy("a", "b")
  }

  val ngramJaccardOracle: String = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
grams AS (
  SELECT doc_id,
         CASE WHEN len(w) < 3 THEN []
              ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                  for i in range(1, len(w) - 1)])
         END AS grams
  FROM w
),
nonempty AS (SELECT * FROM grams WHERE len(grams) > 0),
allinv AS (SELECT doc_id, unnest(grams) AS g FROM nonempty),
hot AS (
  SELECT g FROM allinv GROUP BY g
  HAVING count(*) > greatest(10, (SELECT count(*) FROM documents) * 2 // 100)
),
inv AS (SELECT * FROM allinv WHERE g NOT IN (SELECT g FROM hot)),
shared AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
  FROM inv x JOIN inv y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM inv GROUP BY doc_id)
SELECT a, b, inter, (sa.n + sb.n - inter) AS uni
FROM shared JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
WHERE inter * 50 >= sa.n + sb.n - inter
ORDER BY a, b
"""

  /** dedup_containment: ASYMMETRIC n-gram containment — for an ordered
    * pair (a, b), what fraction of a's distinct trigrams lie inside b
    * (`|A∩B| / |A|`). This catches what symmetric Jaccard structurally
    * cannot: a short document quoted wholesale inside a long one has
    * tiny Jaccard (the union is dominated by b) but containment ≈ 1 —
    * the quote/boilerplate-subset relation an LLM dedup pass must
    * break asymmetrically (drop the contained copy, keep the
    * container). Emits ordered pairs at ≥ 50% containment with the
    * exact gram counts and the fraction in ppm (integer `div`).
    *
    * Scale: the same DF-capped inverted index — and now the same
    * memoized co-occurrence table — as [[ngramJaccardPairs]] (see
    * [[trigramInv]] for the stop-gram/quadratic-DF argument); the only
    * change is the scoring projection, which normalizes by |A| instead
    * of the union, and emits BOTH orientations of each co-occurring
    * pair. `inter` is symmetric, so the two orientations are two
    * projections of one ordered-pair row — the old `!=` self-join
    * computed every intersection twice (r14, guide §2.3).
    */
  def containmentPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val inv = trigramInv(spark, sfDir) // memoized checkpointed (shared with ngramJaccardPairs)
    val ordered = trigramShared(spark, sfDir)
    val shared = ordered
      .select(col("a").as("contained"), col("b").as("container"), col("inter"))
      .unionAll(ordered
        .select(col("b").as("contained"), col("a").as("container"), col("inter")))
    val sizes = inv.groupBy("doc_id").agg(count(lit(1)).as("n"))
    shared
      .join(sizes.toDF("contained", "na"), "contained")
      .where(col("inter") * 2 >= col("na"))
      .select(col("contained"), col("container"), col("inter"), col("na"),
        expr("(inter * 1000000) div na").as("containment_ppm"))
      .orderBy("contained", "container")
  }

  val containmentOracle: String = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
grams AS (
  SELECT doc_id,
         CASE WHEN len(w) < 3 THEN []
              ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                  for i in range(1, len(w) - 1)])
         END AS grams
  FROM w
),
nonempty AS (SELECT * FROM grams WHERE len(grams) > 0),
allinv AS (SELECT doc_id, unnest(grams) AS g FROM nonempty),
hot AS (
  SELECT g FROM allinv GROUP BY g
  HAVING count(*) > greatest(10, (SELECT count(*) FROM documents) * 2 // 100)
),
inv AS (SELECT * FROM allinv WHERE g NOT IN (SELECT g FROM hot)),
shared AS (
  SELECT x.doc_id AS contained, y.doc_id AS container, count(*) AS inter
  FROM inv x JOIN inv y ON x.g = y.g AND x.doc_id <> y.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, count(*) AS n FROM inv GROUP BY doc_id)
SELECT contained, container, inter, sa.n AS na,
       (inter * 1000000) // sa.n AS containment_ppm
FROM shared JOIN sizes sa ON contained = sa.doc_id
WHERE inter * 2 >= sa.n
ORDER BY contained, container
"""

  // ---------------------------------------------------------------
  // Embedding-cosine near-dup: vectors whose cosine >= 0.4 are
  // near-duplicates; clusters via our CC (plus self-pairs so isolated
  // vectors stay singletons).
  // ---------------------------------------------------------------

  /** Exact near-dup clustering baseline over a BOUNDED deterministic
    * subset of `embeddings` (`vec_id < 1000` — the whole corpus at the
    * small scales, ≤1000 vectors at any scale): exact cosine-threshold
    * pairs → Large/Small-Star CC. The subset cap is what keeps a
    * correctness baseline gradeable at 100 TB — the all-pairs join is
    * ≤ 1000²/2 dot products no matter how big the corpus grows; the
    * corpus-wide clustering is [[dedupEmbeddingAnn]] (bucketed, linear),
    * whose recall against THIS baseline is itself graded
    * ([[dedupAnnRecall]]). Threshold 0.4 sits in a wide gap of the
    * pair-cosine distribution, so float fold order can't flip
    * membership (see SimilarityQueries scaladoc).
    */
  private val ExactSubsetCap = 1000

  def dedupEmbeddingClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val n = Tables.embeddings(spark, sfDir)
      .where(col("vec_id") < ExactSubsetCap)
      .select(col("vec_id"),
        transform(col("embedding"), (x: Column) => x.cast("double")).as("v"))
      .select(col("vec_id"), col("v"),
        sqrt(aggregate(col("v"), lit(0.0), (acc: Column, x: Column) => acc + x * x)).as("norm"))
      .select(col("vec_id"),
        transform(col("v"), (x: Column) => x / col("norm")).as("u"))
      .localCheckpoint()
    val a = n.toDF("a", "ua")
    val b = n.toDF("b", "ub")
    val pairs = a.join(b, col("a") < col("b"))
      .where(graft.functions.VectorFunctions.dot(col("ua"), col("ub")) >= 0.4)
      .select(col("b").as("src"), col("a").as("dst"))
    val selfPairs = n.select(col("vec_id").as("src"), col("vec_id").as("dst"))
    val res = ConnectedComponents.runAuto(pairs.union(selfPairs), maxIterations = 20)
    require(res.converged, "embedding CC did not converge")
    res.assignments.toDF("vec_id", "cluster").orderBy("vec_id")
  }

  val dedupEmbeddingOracle: String = s"""
WITH RECURSIVE n AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::double) AS v,
         sqrt(list_sum(list_transform(embedding, x -> (x::double) * (x::double)))) AS nrm
  FROM embeddings WHERE vec_id < 1000
),
u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM n),
near AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM u a JOIN u b ON a.vec_id < b.vec_id
  WHERE list_sum(list_transform(range(1, len(a.u) + 1), i -> a.u[i] * b.u[i])) >= 0.4
),${clusterOracle("vec_id", "embeddings WHERE vec_id < 1000", "near")}
"""

  /** Scale-safe embedding near-dup clustering: LSH bucket candidates →
    * exact cosine verify → CC. This is the graded 100 TB path for the
    * problem [[dedupEmbeddingClusters]] solves with an all-pairs join.
    *
    * Candidate generation is the md5-hyperplane LSH shared with
    * [[SimilarityQueries.annLsh]], with bits-per-table ADAPTIVE to the
    * corpus: the smallest b with 64·2^b >= N (integer-exact, so the
    * oracle derives the same b from count(*)). Buckets thus number
    * ~N/64 per table and expected occupancy stays bounded as N grows —
    * candidates are O(N · occupancy · tables), linear in N, with every
    * join an equi-join (no cartesian anywhere in the plan). Missed
    * pairs are the LSH recall trade (the exact query remains the
    * correctness baseline); found pairs are verified with the exact
    * dot product before clustering, so precision is 1.0.
    */
  /** Verified near-dup pairs (a < b, exact cosine >= 0.4) from LSH
    * bucket candidates — the linear-in-N stage of [[dedupEmbeddingAnn]].
    *
    * Hot buckets (> AnnMaxBucket vectors) are dropped before the
    * self-join, mirroring [[minhashPairs]]'s guard: adaptive bits bound
    * EXPECTED occupancy at ~64, but a degenerate corpus (many
    * near-identical embeddings) can still pile one bucket high enough
    * to go quadratic. The cap is 4x the expected occupancy, so on
    * non-degenerate data it drops nothing (max observed occupancy on
    * the testdata is 135 at sf0.1).
    */
  private val AnnMaxBucket = 256

  /** Verified near-duplicate pair set — memoized checkpointed (r14):
    * TWO graded queries ([[dedupEmbeddingAnn]], [[dedupAnnRecall]])
    * each re-ran the whole 12-table LSH bucketing, cold-bucket
    * self-join and dot-product verify per invocation; it is a shared
    * derived table like the family's other memos (guide §2.4). Built
    * in the `_prewarm_dedup_memos` bench row.
    */
  private val annPairsMemo = new Memo[DataFrame]
  private[queries] def embeddingAnnPairs(spark: SparkSession, sfDir: String): DataFrame =
    annPairsMemo(spark, sfDir) { (s, d) => Pin(embeddingAnnPairsBuild(s, d)) }

  private def embeddingAnnPairsBuild(spark: SparkSession, sfDir: String): DataFrame = {
    val n = SimilarityQueries.normalized(spark, sfDir) // memoized checkpointed (r14)
    val nVecs = n.count()
    val bits = (1 to 30).find(b => (64L << b) >= nVecs)
    // Fail loudly past 2^36 vectors: the oracle's nbits CTE goes NULL
    // there, so a silent clamp to b=30 would diverge from it.
    require(bits.isDefined,
      s"adaptive LSH bits: no b in [1,30] with 64*2^b >= $nVecs vectors")
    // Checkpointed: feeds the hot-bucket count and both self-join sides.
    val bucketed = SimilarityQueries.lshBuckets(n, nTables = 12,
        bitsPerTable = bits.get)
      .localCheckpoint()
    // Cold-bucket list rows ≤ 12·N (already counted above); guarded so
    // a 100 TB corpus degrades to an AQE shuffle join, not a broadcast OOM.
    val cold = bucketed.join(
      Hints.maybeBroadcast(
        bucketed.groupBy("bucket").count()
          .where(col("count") <= AnnMaxBucket),
        12L * nVecs)
        .select("bucket"),
      "bucket")
    val cand = cold.as("x").join(cold.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .dropDuplicates()
    cand
      .join(n.toDF("a", "ua"), "a")
      .join(n.toDF("b", "ub"), "b")
      .where(graft.functions.VectorFunctions.dot(col("ua"), col("ub")) >= 0.4)
      .select(col("a"), col("b"))
  }

  def dedupEmbeddingAnn(spark: SparkSession, sfDir: String): DataFrame = {
    val verified = embeddingAnnPairs(spark, sfDir)
      .select(col("b").as("src"), col("a").as("dst"))
    val selfPairs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("src"), col("vec_id").as("dst"))
    val res = ConnectedComponents.runAuto(verified.union(selfPairs), maxIterations = 20)
    require(res.converged, "embedding ANN CC did not converge")
    res.assignments.toDF("vec_id", "cluster").orderBy("vec_id")
  }

  /** Shared oracle CTE chain computing the ANN pipeline's verified
    * near-dup pairs (`near`), reused by [[dedupEmbeddingAnnOracle]] and
    * [[dedupAnnRecallOracle]] so the two gates replay the identical
    * pipeline.
    */
  private val annNearSql: String = s"""n AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::double) AS v,
         sqrt(list_sum(list_transform(embedding, x -> (x::double) * (x::double)))) AS nrm
  FROM embeddings
),
u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM n),
nbits AS (
  SELECT min(b) AS b FROM unnest(range(1, 31)) AS t(b)
  WHERE 64 * (1::bigint << b) >= (SELECT count(*) FROM embeddings)
),
comps AS (
  SELECT t, h, i,
         cast('0x' || substr(md5(t || ':' || h || ':' || i), 1, 8) AS bigint)
           / 2147483648.0 - 1.0 AS w
  FROM unnest(range(0, 12)) AS tt(t),
       unnest(range(0, 30)) AS hh(h),
       unnest(range(0, 64)) AS ii(i)
  WHERE h < (SELECT b FROM nbits)
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
         cast(sum(CASE WHEN d >= 0 THEN 1::bigint << h ELSE 0 END) AS bigint) * 100 + t AS bucket
  FROM dots GROUP BY vec_id, t
),
cold AS (
  SELECT bucket FROM buckets GROUP BY bucket HAVING count(*) <= $AnnMaxBucket
),
cand AS (
  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
  FROM buckets x JOIN buckets y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
  WHERE x.bucket IN (SELECT bucket FROM cold)
),
near AS (
  SELECT a, b FROM cand
  JOIN u ua ON cand.a = ua.vec_id
  JOIN u ub ON cand.b = ub.vec_id
  WHERE list_sum(list_transform(range(1, len(ua.u) + 1), i -> ua.u[i] * ub.u[i])) >= 0.4
)"""

  val dedupEmbeddingAnnOracle: String =
    "WITH RECURSIVE " + annNearSql + "," + clusterOracle("vec_id", "embeddings", "near")

  /** Gate-visible ANN recall (VERDICT r3 §missing #3): of the exact
    * cosine-threshold pairs in the bounded baseline subset
    * (`vec_id < ExactSubsetCap`, the same pair set that drives
    * [[dedupEmbeddingClusters]]), how many does the linear-scale ANN
    * pipeline ([[embeddingAnnPairs]]) recover? Emits integer counts and
    * recall in basis points (integer division — hash-exact), so the
    * recall claim sits under the oracle gate, not just in
    * EmbeddingDedupSpec. Precision needs no row: ANN pairs are verified
    * with the exact dot product before emission, so every recovered
    * pair is a true pair by construction.
    */
  def dedupAnnRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val n = SimilarityQueries.normalized(spark, sfDir)
      .where(col("vec_id") < ExactSubsetCap)
      .localCheckpoint()
    val exact = n.toDF("a", "ua").join(n.toDF("b", "ub"), col("a") < col("b"))
      .where(graft.functions.VectorFunctions.dot(col("ua"), col("ub")) >= 0.4)
      .select(col("a"), col("b"))
    val ann = embeddingAnnPairs(spark, sfDir)
      .where(col("a") < ExactSubsetCap && col("b") < ExactSubsetCap)
      .withColumn("found", lit(1L))
    exact.join(ann, Seq("a", "b"), "left")
      .agg(count(lit(1)).as("n_exact"),
           sum(coalesce(col("found"), lit(0L))).as("n_found"))
      .select(col("n_exact"), col("n_found"),
        expr("(10000 * n_found) div n_exact").as("recall_bps"))
  }

  val dedupAnnRecallOracle: String = "WITH " + annNearSql + s""",
exact AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM u a JOIN u b ON a.vec_id < b.vec_id
  WHERE a.vec_id < $ExactSubsetCap AND b.vec_id < $ExactSubsetCap
    AND list_sum(list_transform(range(1, len(a.u) + 1), i -> a.u[i] * b.u[i])) >= 0.4
),
joined AS (
  SELECT count(*) AS n_exact,
         cast(coalesce(sum(CASE WHEN nr.a IS NOT NULL THEN 1 ELSE 0 END), 0)
              AS bigint) AS n_found
  FROM exact e LEFT JOIN near nr ON e.a = nr.a AND e.b = nr.b
)
SELECT n_exact, n_found,
       cast((10000 * n_found) // n_exact AS bigint) AS recall_bps
FROM joined
"""

  // ---------------------------------------------------------------
  // MLlib interop: the same near-dup problem through
  // org.apache.spark.ml.feature.MinHashLSH (OR-amplified hash tables +
  // exact-distance filter inside approxSimilarityJoin).
  // ---------------------------------------------------------------

  /** Near-dup pairs (token-set jaccard >= 0.8; boundary pairs at
    * distance exactly 0.2 are retained — verified empirically in
    * MllibDedupSpec) via MinHashLSH: binary CountVectorizer features
    * (exact vocabulary, so feature-space jaccard IS token-set
    * jaccard — HashingTF collisions would smear the boundary) →
    * 8 seeded hash tables → approxSimilarityJoin. Precision is 1.0
    * by construction (the join filters on exact distance over the
    * feature vectors); recall < 1 is the LSH trade — both are asserted
    * in MllibDedupSpec against the exact pair set.
    *
    * NOT registered as a graded query: approxSimilarityJoin has no
    * hot-bucket guard, so on this deliberately self-similar corpus its
    * candidate set goes quadratic — 265s at sf0.1 where the hand-built
    * pipeline (hot-bucket cap + integer verify, [[minhashPairs]]) runs
    * in ~2.6s. Kept as the MLlib-interop demonstration and as the
    * measured argument for why the capped pipeline is the scale path.
    */
  def minhashMllibPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.ml.feature.{CountVectorizer, MinHashLSH}
    val toks = docTokens(spark, sfDir)
    val features = new CountVectorizer()
      .setInputCol("tokens").setOutputCol("features")
      .setBinary(true)
      .fit(toks)
      .transform(toks)
    val model = new MinHashLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(8).setSeed(42L)
      .fit(features)
    model.approxSimilarityJoin(features, features, 0.2, "dist")
      .select(col("datasetA.doc_id").as("a"), col("datasetB.doc_id").as("b"))
      .where(col("a") < col("b"))
      .dropDuplicates()
      .orderBy("a", "b")
  }

  /** Content-defined chunking (CDC) dedup — substring-level duplicate
    * detection: chunk boundaries fall where the hash of the local
    * 8-char window is ≡ 0 (mod 32), so boundaries are a function of
    * CONTENT, not position — an insertion early in a document shifts
    * every byte offset but leaves later chunk hashes identical, which
    * is why CDC (not fixed-width blocks) is how storage dedup and
    * substring-level corpus dedup are actually built. Docs sharing
    * ≥ 2 chunk hashes are emitted with their shared count. Inverted
    * index on the chunk hash with the same ≤ 50-doc hot-bucket cap as
    * the minhash pipeline (a boilerplate chunk shared by everything
    * must not go quadratic — it carries no dedup signal anyway).
    * Expected chunk length = 32 chars; boundaries come from the
    * codegen'd rolling polynomial hash [[graft.functions.CdcCuts]] —
    * one multiply-add-mod per byte (the per-position-md5 form this
    * replaced cost an md5 digest + hex decode per byte; measured 4.3s
    * → sub-second boundary scan at sf0.1).
    */
  /** doc_id + distinct CDC chunk-hash array of the `text` column.
    *
    * The cut array MUST be materialized before the chunk-extraction
    * lambda touches it: CollapseProject happily inlines the `cuts`
    * alias into the lambda, where it is referenced per chunk element —
    * re-running the full boundary scan O(chunks) times per document
    * (measured 307s collapsed vs ~8s staged at sf0.1 on the old
    * md5-per-position scan; the hazard is cheaper but still O(chunks×n)
    * with the rolling hash). `localCheckpoint` is the projection
    * barrier the optimizer cannot collapse — the same lineage-cut
    * discipline the CC loop uses.
    */
  private[queries] def cdcChunks(df: DataFrame): DataFrame = {
    df.where(length(col("text")) > 0)
      .withColumn("cuts",
        concat(array(lit(1)), graft.functions.CdcCuts(col("text")),
               array(length(col("text")) + 1)))
      .localCheckpoint(false)
      .withColumn("chunks", expr(
        "array_distinct(transform(sequence(1, size(cuts) - 1), " +
          "j -> md5(substring(text, element_at(cuts, j), " +
          "element_at(cuts, j + 1) - element_at(cuts, j)))))"))
      .select(col("doc_id"), col("chunks"))
  }

  def cdcChunkPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val MaxDocsPerChunk = 50
    // Checkpoint the chunk arrays: the inverted index feeds the
    // hot-chunk count AND both self-join sides — without the barrier the
    // md5-per-chunk extraction pass runs once per use.
    val chunks = cdcChunks(Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text")))
      .localCheckpoint(false)
    val inv = chunks.select(col("doc_id"), explode(col("chunks")).as("ch"))
    // Cold-chunk list rows ≤ total chunks (one cheap agg over the
    // checkpointed arrays); guarded so a 100 TB corpus degrades the
    // filter to an AQE shuffle join instead of a broadcast OOM.
    val nChunks = chunks.agg(sum(size(col("chunks")))).head.getLong(0)
    val cold = inv.join(
      Hints.maybeBroadcast(inv.groupBy("ch").count()
        .where(col("count") <= MaxDocsPerChunk), nChunks).select("ch"),
      "ch")
    cold.as("x").join(cold.as("y"),
        col("x.ch") === col("y.ch") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= 2)
      .orderBy("doc_a", "doc_b")
  }

  // Boundary criterion mirrors CdcCuts exactly: polynomial hash of the
  // 8-char window mod 1e9+7 mod 32 = 0, with powers 256^k mod 1e9+7
  // precomputed as literals (every term < 2^38 — exact in int64; ord()
  // per character == the expression's per-byte walk on this ASCII
  // corpus, see CdcCuts scaladoc).
  val cdcChunkPairsOracle: String = """
WITH b AS (
  SELECT doc_id, text,
         list_filter(range(1, greatest(length(text) - 7, 0) + 1),
           i -> (cast(ord(substr(text, i, 1)) AS bigint) * 533524785
               + cast(ord(substr(text, i + 1, 1)) AS bigint) * 974740338
               + cast(ord(substr(text, i + 2, 1)) AS bigint) * 511620083
               + cast(ord(substr(text, i + 3, 1)) AS bigint) * 294967268
               + cast(ord(substr(text, i + 4, 1)) AS bigint) * 16777216
               + cast(ord(substr(text, i + 5, 1)) AS bigint) * 65536
               + cast(ord(substr(text, i + 6, 1)) AS bigint) * 256
               + ord(substr(text, i + 7, 1))) % 1000000007 % 32 = 0) AS bpos
  FROM documents WHERE length(text) > 0
),
cuts AS (
  SELECT doc_id, text,
         list_concat(list_concat([1], bpos), [length(text) + 1]) AS cs
  FROM b
),
chunks AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(cs)),
           j -> md5(substr(text, cs[j], cs[j + 1] - cs[j]))))) AS ch
  FROM cuts
),
cold AS (
  SELECT ch FROM chunks GROUP BY ch HAVING count(*) <= 50
),
pairs AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_shared
  FROM chunks x
  JOIN chunks y ON x.ch = y.ch AND x.doc_id < y.doc_id
  WHERE x.ch IN (SELECT ch FROM cold)
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared FROM pairs WHERE n_shared >= 2
ORDER BY doc_a, doc_b
"""

  /** dedup_incremental_batch: the INCREMENTAL production shape — a new
    * document batch (a deterministic hash-selected ~10%) deduplicated
    * against the standing corpus and within itself, without ever
    * re-deduplicating the corpus. A new doc is dropped if its
    * normalized token-set key already exists in the corpus (semi-join
    * against the corpus key index — at 100 TB that index is the
    * persisted asset this query models); survivors then keep only the
    * min doc_id per key within the batch. Graded as the full
    * disposition accounting: n_new = dropped_vs_corpus +
    * dropped_within_batch + kept, an identity the gate enforces.
    *
    * Scale: the corpus side reduces to its DISTINCT key index once;
    * the per-batch work is |batch|-sized — the whole point of the
    * incremental shape (contrast [[dedupExact]], which reprocesses the
    * corpus every run).
    */
  def incrementalBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val keyed = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        concat_ws(" ",
          sort_array(array_distinct(split(col("text"), " ")))).as("key"),
        (conv(substring(md5(concat(lit("inc#"),
          col("doc_id").cast("string"))), 1, 8), 16, 10).cast("bigint")
          % 10 === 0).as("is_new"))
      .localCheckpoint() // corpus index and batch share the scan
    val corpusKeys = keyed.where(!col("is_new")).select("key").distinct()
      .withColumn("in_corpus", lit(1))
    keyed.where(col("is_new"))
      .join(corpusKeys, Seq("key"), "left")
      .withColumn("rk", row_number().over(
        Window.partitionBy("key").orderBy("doc_id")))
      .agg(count(lit(1)).as("n_new"),
        sum(when(col("in_corpus") === 1, 1L).otherwise(0L))
          .as("n_dropped_corpus"),
        sum(when(col("in_corpus").isNull && col("rk") > 1, 1L)
          .otherwise(0L)).as("n_dropped_within"),
        sum(when(col("in_corpus").isNull && col("rk") === 1, 1L)
          .otherwise(0L)).as("n_kept"))
  }

  val incrementalBatchOracle: String = """
WITH keyed AS (
  SELECT doc_id,
         array_to_string(list_sort(list_distinct(string_split(text, ' '))),
                         ' ') AS key,
         cast('0x' || substr(md5('inc#' || doc_id), 1, 8) AS bigint) % 10
           = 0 AS is_new
  FROM documents
),
corpus AS (SELECT DISTINCT key FROM keyed WHERE NOT is_new),
newd AS (
  SELECT k.doc_id, k.key,
         CASE WHEN c.key IS NOT NULL THEN 1 ELSE 0 END AS in_corpus,
         row_number() OVER (PARTITION BY k.key ORDER BY k.doc_id) AS rk
  FROM keyed k LEFT JOIN corpus c ON c.key = k.key
  WHERE k.is_new
)
SELECT count(*) AS n_new,
       CAST(sum(in_corpus) AS BIGINT) AS n_dropped_corpus,
       CAST(sum(CASE WHEN in_corpus = 0 AND rk > 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped_within,
       CAST(sum(CASE WHEN in_corpus = 0 AND rk = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept
FROM newd
"""

  /** Bench prewarm hook (r14): build the cross-query memo tables once,
    * timed as their own `_prewarm_dedup_memos` row, so per-query rows
    * measure their own work regardless of execution order — the same
    * contract as the graph/percolation prewarms (Bench.scala).
    */
  private[graft] def prewarmDedupMemos(spark: SparkSession, sfDir: String): Unit = {
    // Three independent chains overlapped (guide §2.6, see queries.Par):
    // the trigram chain never reads docTokens, and the two
    // fingerprint builds share it through the memo (the second thread
    // blocks on the first's computeIfAbsent, then reuses the table).
    Par(
      () => { docTokens(spark, sfDir).count()
              minhashSigs(spark, sfDir).count() },
      () => simhashFingerprints(spark, sfDir).count(),
      () => { trigramInv(spark, sfDir).count()
              trigramShared(spark, sfDir).count() },
      () => embeddingAnnPairs(spark, sfDir).count())
  }

  val all: Seq[Query] = Seq(
    Query("dedup_incremental_batch", incrementalBatch, incrementalBatchOracle),
    Query("dedup_cdc_chunks", cdcChunkPairs, cdcChunkPairsOracle),
    Query("dedup_exact", dedupExact, dedupExactOracle),
    Query("dedup_minhash_est", minhashEst, minhashEstOracle),
    Query("dedup_minhash_clusters", dedupMinhashClusters, dedupMinhashOracle),
    Query("dedup_simhash", dedupSimhash, dedupSimhashOracle),
    Query("dedup_simhash_clusters", dedupSimhashClusters, dedupSimhashClustersOracle),
    Query("dedup_ngram_jaccard", ngramJaccardPairs, ngramJaccardOracle),
    Query("dedup_containment", containmentPairs, containmentOracle),
    Query("dedup_embedding_clusters", dedupEmbeddingClusters, dedupEmbeddingOracle),
    Query("dedup_embedding_ann", dedupEmbeddingAnn, dedupEmbeddingAnnOracle),
    Query("dedup_ann_recall", dedupAnnRecall, dedupAnnRecallOracle),
  )
}
