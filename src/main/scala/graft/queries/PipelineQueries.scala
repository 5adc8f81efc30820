package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation pipeline over `documents`: rule-based quality
  * filtering, blocklist/PII-pattern redaction, deterministic weighted
  * source sampling, best-document-per-duplicate-cluster merge, and
  * fixed-size token chunking. These are the stages that turn a raw
  * crawl into training data; each is a narrow per-row transform or a
  * single shuffle, so every one of them scales linearly.
  *
  * Determinism rules (the oracle hash-compares): every threshold is an
  * integer cross-multiplication (no float boundary), every "random"
  * draw is md5-derived (identical hex in both engines), and the only
  * doubles are never emitted.
  */
object PipelineQueries {

  private val EnStopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  // ---------------------------------------------------------------
  // Quality filter: 4 integer-exact rules, score = sum, keep >= 3.
  // ---------------------------------------------------------------

  /** Rule-based quality scoring: length band, mean-token-length band,
    * stopword floor, type-token-ratio floor — each an integer
    * cross-multiplied predicate, summed into a 0-4 score with a keep
    * flag at >= 3. One pass over the tokens, no shuffle at all (the
    * orderBy exists only for the deterministic gate output).
    */
  /** The 4-rule quality rubric shared by [[qualityFilter]] (graded
    * per-document) and [[bestOfN]] (graded per-group argmax): length
    * band, mean word length band, stopword density, type-token ratio.
    */
  private def rubric(spark: SparkSession, sfDir: String): DataFrame = {
    val sw = array(EnStopwords.map(lit): _*)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        size(col("w")).as("n_tokens"),
        size(array_distinct(col("w"))).as("n_types"),
        aggregate(col("w"), lit(0L),
          (acc: Column, x: Column) => acc + length(x)).as("sum_len"),
        size(filter(col("w"),
          (x: Column) => array_contains(sw, x))).as("sw_hits"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        col("n_tokens").between(20, 400).cast("int").as("r_len"),
        (col("sum_len") >= lit(2) * col("n_tokens") &&
         col("sum_len") <= lit(8) * col("n_tokens")).cast("int").as("r_wordlen"),
        (col("sw_hits") * 50 >= col("n_tokens")).cast("int").as("r_stopword"),
        (col("n_types") * 5 >= col("n_tokens")).cast("int").as("r_ttr"))
  }

  def qualityFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val score = col("r_len") + col("r_wordlen") + col("r_stopword") + col("r_ttr")
    rubric(spark, sfDir)
      .select(col("doc_id"), col("n_tokens"), col("r_len"), col("r_wordlen"),
        col("r_stopword"), col("r_ttr"))
      .withColumn("quality_score", score)
      .withColumn("keep", (score >= 3).cast("int"))
      .orderBy("doc_id")
  }

  /** pipe_best_of_n: deterministic best-of-n candidate selection — the
    * RLHF/rejection-sampling data-prep shape where each prompt has a
    * fixed candidate fan-out and only the argmax survives. Candidate
    * groups are `doc_id div 8`; the selection key is (quality rubric
    * score, type diversity, doc_id) — a TOTAL order, so the winner is
    * unique and the query is hash-gradeable with no RNG (the same
    * determinism stance as pipe_epoch_shuffle / pipe_preference_pairs).
    *
    * Scale: one window over the group key (sort within hash partitions,
    * no join); at a billion groups this is the same single shuffle any
    * per-prompt rollup pays. A real reward-model score would arrive as a
    * column and drop into the same ORDER BY.
    */
  def bestOfN(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = rubric(spark, sfDir)
      .select(col("doc_id"), expr("doc_id div 8").as("prompt_id"),
        col("n_types").cast("bigint").as("n_types"),
        (col("r_len") + col("r_wordlen") + col("r_stopword") + col("r_ttr"))
          .as("quality_score"))
    val w = Window.partitionBy("prompt_id")
      .orderBy(col("quality_score").desc, col("n_types").desc, col("doc_id"))
    scored
      .withColumn("rn", row_number().over(w))
      .withColumn("n_candidates",
        count(lit(1)).over(Window.partitionBy("prompt_id")))
      .where(col("rn") === 1)
      .select(col("prompt_id"), col("doc_id").as("best_doc"),
        col("quality_score").as("best_score"), col("n_types"),
        col("n_candidates"))
      .orderBy("prompt_id")
  }

  val bestOfNOracle: String = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
m AS (
  SELECT doc_id, len(w) AS n_tokens, len(list_distinct(w)) AS n_types,
         list_sum(list_transform(w, x -> length(x))) AS sum_len,
         len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS sw_hits
  FROM t),
r AS (
  SELECT doc_id, CAST(n_types AS BIGINT) AS nty,
    CASE WHEN n_tokens BETWEEN 20 AND 400 THEN 1 ELSE 0 END
    + CASE WHEN sum_len >= 2 * n_tokens AND sum_len <= 8 * n_tokens THEN 1 ELSE 0 END
    + CASE WHEN sw_hits * 50 >= n_tokens THEN 1 ELSE 0 END
    + CASE WHEN n_types * 5 >= n_tokens THEN 1 ELSE 0 END AS quality_score
  FROM m),
wdw AS (
  SELECT doc_id // 8 AS prompt_id, doc_id, nty, quality_score,
         row_number() OVER (PARTITION BY doc_id // 8
           ORDER BY quality_score DESC, nty DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY doc_id // 8) AS n_candidates
  FROM r)
SELECT prompt_id, doc_id AS best_doc, quality_score AS best_score,
       nty AS n_types, CAST(n_candidates AS BIGINT) AS n_candidates
FROM wdw WHERE rn = 1 ORDER BY prompt_id
"""

  val qualityFilterOracle: String = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
m AS (
  SELECT doc_id, len(w) AS n_tokens, len(list_distinct(w)) AS n_types,
         list_sum(list_transform(w, x -> length(x))) AS sum_len,
         len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS sw_hits
  FROM t),
r AS (
  SELECT doc_id, n_tokens,
    CASE WHEN n_tokens BETWEEN 20 AND 400 THEN 1 ELSE 0 END AS r_len,
    CASE WHEN sum_len >= 2 * n_tokens AND sum_len <= 8 * n_tokens THEN 1 ELSE 0 END AS r_wordlen,
    CASE WHEN sw_hits * 50 >= n_tokens THEN 1 ELSE 0 END AS r_stopword,
    CASE WHEN n_types * 5 >= n_tokens THEN 1 ELSE 0 END AS r_ttr
  FROM m)
SELECT doc_id, n_tokens, r_len, r_wordlen, r_stopword, r_ttr,
       (r_len + r_wordlen + r_stopword + r_ttr) AS quality_score,
       CASE WHEN r_len + r_wordlen + r_stopword + r_ttr >= 3 THEN 1 ELSE 0 END AS keep
FROM r ORDER BY doc_id
"""

  // ---------------------------------------------------------------
  // Blocklist / PII-pattern redaction.
  // ---------------------------------------------------------------

  /** Redact blocklisted terms and digit runs (the corpus carries no real
    * PII, so the digit-run alternative stands in for phone/ID patterns;
    * the machinery — one global regexp_replace per row — is identical).
    * Java and RE2 agree on this regex subset (word boundaries,
    * alternation, character classes).
    */
  def piiRedact(spark: SparkSession, sfDir: String): DataFrame = {
    val pat = "\\b(customer|query|value)\\b|[0-9]+"
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(expr(s"regexp_extract_all(text, '${pat.replace("\\", "\\\\")}', 0)")).as("n_hits"),
        md5(regexp_replace(col("text"), pat, "[MASK]")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  val piiRedactOracle: String = """
SELECT doc_id,
  len(regexp_extract_all(text, '\b(customer|query|value)\b|[0-9]+')) AS n_hits,
  md5(regexp_replace(text, '\b(customer|query|value)\b|[0-9]+', '[MASK]', 'g')) AS redacted_md5
FROM documents ORDER BY doc_id
"""

  // ---------------------------------------------------------------
  // Deterministic weighted source mixing.
  // ---------------------------------------------------------------

  /** Weighted dataset mixing: each source gets a sampling rate from its
    * index (100/75/50/25 %), and a document survives iff its md5-derived
    * uniform bucket falls under the rate. Pure per-row arithmetic —
    * deterministic, re-runnable, and (unlike `TABLESAMPLE`) stable
    * across partitionings and retries, which is what a reproducible
    * training-mix pipeline needs.
    */
  def sampleMix(spark: SparkSession, sfDir: String): DataFrame = {
    val rate = element_at(
      array(lit(100), lit(75), lit(50), lit(25)),
      (substring(col("source"), 4, 10).cast("int") % 4) + 1)
    val bucket = conv(substring(
        md5(concat(col("source"), lit(":"), col("doc_id").cast("string"))), 1, 8),
      16, 10).cast("bigint") % 100
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
              rate.as("rate_pct"), bucket.as("bucket"))
      .where(col("bucket") < col("rate_pct"))
      .orderBy("doc_id")
  }

  val sampleMixOracle: String = """
SELECT doc_id, source,
  ([100, 75, 50, 25])[(substr(source, 4)::int % 4) + 1] AS rate_pct,
  cast('0x' || substr(md5(source || ':' || doc_id), 1, 8) AS bigint) % 100 AS bucket
FROM documents
WHERE cast('0x' || substr(md5(source || ':' || doc_id), 1, 8) AS bigint) % 100
      < ([100, 75, 50, 25])[(substr(source, 4)::int % 4) + 1]
ORDER BY doc_id
"""

  // ---------------------------------------------------------------
  // Best-document-per-cluster merge over the MinHash near-dup clusters.
  // ---------------------------------------------------------------

  /** Dedup MERGE step: within each [[DedupQueries.dedupMinhashClusters]]
    * cluster keep the best document (longest, doc_id tie-break) and
    * flag the rest for drop. The ranking is one window over the
    * cluster id — the same shuffle the clustering already did — so the
    * merge adds a single stage to the near-dup pipeline.
    */
  def dedupMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val clusters = DedupQueries.dedupMinhashClusters(spark, sfDir)
    val w = Window.partitionBy(col("cluster"))
    val rk = row_number().over(
      w.orderBy(col("n_chars").desc, col("doc_id").asc))
    clusters
      .join(Tables.documents(spark, sfDir).select("doc_id", "n_chars"), "doc_id")
      .select(col("doc_id"), col("cluster"),
        count(lit(1)).over(w).as("cluster_size"),
        (rk === 1).cast("int").as("keep"))
      .orderBy("doc_id")
  }

  val dedupMergeOracle: String = {
    // The cluster assignment is exactly the minhash oracle, nested as a
    // derived table (its ORDER BY is redundant inside the subquery).
    val clusters = DedupQueries.dedupMinhashOracle
    s"""
WITH ranked AS (
  SELECT c.doc_id, c.cluster, d.n_chars,
         row_number() OVER (PARTITION BY c.cluster ORDER BY d.n_chars DESC, c.doc_id) AS rk,
         count(*) OVER (PARTITION BY c.cluster) AS cluster_size
  FROM ($clusters) c JOIN documents d ON c.doc_id = d.doc_id
)
SELECT doc_id, cluster, cluster_size,
       CASE WHEN rk = 1 THEN 1 ELSE 0 END AS keep
FROM ranked ORDER BY doc_id
"""
  }

  // ---------------------------------------------------------------
  // Fixed-size token chunking.
  // ---------------------------------------------------------------

  private val ChunkTokens = 64

  /** Split every document into consecutive `ChunkTokens`-token chunks
    * (last chunk ragged): the standard pre-tokenization packing step.
    * `sequence` + `slice` keep it one codegen'd projection — the row
    * explosion is bounded by n_tokens/64, and no shuffle happens until
    * the gate's orderBy.
    */
  def tokenChunks(spark: SparkSession, sfDir: String): DataFrame = {
    val chunk = slice(col("w"), (col("chunk_id") * ChunkTokens + 1).cast("int"),
      lit(ChunkTokens))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("chunk_id",
        explode(expr(s"sequence(CAST(0 AS BIGINT), (size(w) + ${ChunkTokens - 1}) div $ChunkTokens - 1)")))
      .select(col("doc_id"), col("chunk_id"),
        size(chunk).as("n_chunk_tokens"),
        md5(array_join(chunk, " ")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  val tokenChunksOracle: String = s"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
c AS (SELECT doc_id, w,
             unnest(range(0, (len(w) + ${ChunkTokens - 1}) // $ChunkTokens)) AS chunk_id
      FROM t)
SELECT doc_id, chunk_id,
  len(list_slice(w, chunk_id * $ChunkTokens + 1, chunk_id * $ChunkTokens + $ChunkTokens)) AS n_chunk_tokens,
  md5(array_to_string(list_slice(w, chunk_id * $ChunkTokens + 1, chunk_id * $ChunkTokens + $ChunkTokens), ' ')) AS chunk_md5
FROM c ORDER BY doc_id, chunk_id
"""

  // ---------------------------------------------------------------
  // Sequence packing: greedy per-source accumulation into 512-token
  // training sequences.
  // ---------------------------------------------------------------

  private val SeqTokens = 512

  /** Assign each document to the training sequence its tokens start
    * in: running token total per source (deterministic doc_id order),
    * sequence id = floor((cum - n)/512). One window over the same
    * (source) partitioning the corpus already shuffles by for mixing —
    * documents longer than a sequence simply span into the next, the
    * standard greedy packing. At scale the window is per-source and
    * streams; no global sort exists outside the gate's orderBy.
    */
  def packSequences(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
              size(split(col("text"), " ")).as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        ((col("cum") - col("n_tokens")) / SeqTokens).cast("bigint").as("seq_id"))
      .orderBy("doc_id")
  }

  val packSequencesOracle: String = s"""
WITH t AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens FROM documents),
c AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t)
SELECT doc_id, source, n_tokens,
       cast((cum - n_tokens) // $SeqTokens AS bigint) AS seq_id
FROM c ORDER BY doc_id
"""

  // ---------------------------------------------------------------
  // Vocabulary induction: global token frequencies, top-K by count.
  // ---------------------------------------------------------------

  /** Top-100 corpus vocabulary with counts and deterministic ranks
    * (count desc, token asc). The frequency table is a single
    * map-side-combined aggregation; the rank window runs over the
    * VOCABULARY (orders of magnitude smaller than the corpus), so the
    * single-partition window is not a scale hazard.
    */
  def vocabTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.orderBy(col("n").desc, col("token"))
    Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 100)
      .orderBy("rank")
  }

  val vocabTopKOracle: String = """
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
cnt AS (SELECT token, count(*) AS n FROM tok GROUP BY token)
SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rank
FROM cnt ORDER BY rank LIMIT 100
"""

  // ---------------------------------------------------------------
  // Benchmark decontamination: flag training docs sharing an n-gram
  // window with the held-out set.
  // ---------------------------------------------------------------

  /** Decontamination pass: `src0` plays the held-out benchmark; every
    * other document is flagged with its count of distinct shared
    * 4-gram windows (window size is a parameter — real corpora use
    * 8-13-token windows; 4 matches this tiny-vocabulary testdata).
    * The benchmark gram set is small by nature, so it broadcasts and
    * the flagging join never shuffles the training corpus.
    */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val grams4 = array_distinct(transform(
      sequence(lit(1), size(col("w")) - 3),
      (i: Column) => md5(concat_ws(" ", slice(col("w"), i, lit(4))))))
    val g = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 4)
      .select(col("doc_id"), col("source"), explode(grams4).as("g4"))
    val evalGrams = g.where(col("source") === "src0").select("g4").distinct()
    g.where(col("source") =!= "src0")
      .join(broadcast(evalGrams), "g4")
      .groupBy("doc_id")
      .agg(countDistinct(col("g4")).as("n_shared_4grams"))
      .orderBy("doc_id")
  }

  val decontaminateOracle: String = """
WITH g AS (
  SELECT doc_id, source, unnest(list_distinct([ md5(array_to_string(w[i:i+3], ' '))
           for i in range(1, len(w) - 2) ])) AS g4
  FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents)
  WHERE len(w) >= 4),
eval_g AS (SELECT DISTINCT g4 FROM g WHERE source = 'src0'),
train AS (SELECT doc_id, g4 FROM g WHERE source <> 'src0')
SELECT t.doc_id, count(DISTINCT t.g4) AS n_shared_4grams
FROM train t JOIN eval_g e ON t.g4 = e.g4
GROUP BY t.doc_id ORDER BY doc_id
"""

  // ---------------------------------------------------------------
  // Deterministic train/validation/test split.
  // ---------------------------------------------------------------

  /** Holdout assignment: each document lands in train (90 %) / val
    * (5 %) / test (5 %) by its md5-derived uniform bucket — a pure
    * per-row projection, so the split is identical under any
    * repartitioning, retry, or incremental re-run (every property
    * `TABLESAMPLE` or `randomSplit` lacks). Keyed on (source, doc_id) so adding a new
    * source never reassigns existing documents — the invariant that
    * keeps yesterday's eval set out of tomorrow's training run.
    * Output is the per-source × split contingency table (the thing a
    * pipeline asserts on before training).
    */
  def trainSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = conv(substring(
        md5(concat(col("source"), lit("#"), col("doc_id").cast("string"))), 1, 8),
      16, 10).cast("bigint") % 100
    val split = when(bucket < 90, "train")
      .when(bucket < 95, "val").otherwise("test")
    Tables.documents(spark, sfDir)
      .select(col("source"), split.as("split"))
      .groupBy("source", "split").agg(count(lit(1)).as("n_docs"))
      .orderBy("source", "split")
  }

  val trainSplitOracle: String = """
WITH b AS (
  SELECT source,
         cast('0x' || substr(md5(source || '#' || doc_id), 1, 8) AS bigint) % 100
           AS bucket
  FROM documents)
SELECT source,
       CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
       count(*) AS n_docs
FROM b GROUP BY 1, 2 ORDER BY source, split
"""

  /** Deterministic stratified sampling: exactly min(k, |stratum|) docs
    * per source, chosen as the k smallest md5-derived hashes — a
    * uniform without-replacement sample that any engine reproduces
    * bit-for-bit (no RNG state, no partition-order dependence), and
    * that stays STABLE as the corpus grows (a doc's selection changes
    * only if a new doc hashes below the current k-th — the property
    * that lets a 100 TB pipeline re-run incrementally without
    * resampling everything). Per-stratum top-k via a window over the
    * stratum key: shuffle by source, heap-bounded per partition —
    * no global sort.
    */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 5
    val h = conv(substring(md5(concat(col("source"), lit("#"),
      col("doc_id"))), 1, 14), 16, 10).cast("bigint")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("h", "doc_id")
    Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), h.as("h"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("source"), col("rk").cast("bigint").as("rk"), col("doc_id"))
      .orderBy("source", "rk")
  }

  val stratifiedSampleOracle: String = """
WITH h AS (
  SELECT source, doc_id,
         cast('0x' || substr(md5(source || '#' || doc_id), 1, 14) AS bigint)
           AS h
  FROM documents
),
ranked AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
  FROM h
)
SELECT source, cast(rk AS bigint) AS rk, doc_id
FROM ranked WHERE rk <= 5 ORDER BY source, rk
"""

  /** The curation stages composed END-TO-END in one DataFrame chain —
    * quality filter → exact near-dup collapse (keep the min doc per
    * text hash) → deterministic split — proving the stages fuse into
    * ONE Catalyst plan (no materialization barriers between them: the
    * filter pushes into the scan, the dedup is one window, the split
    * is a projection). Per (split, lang): docs, total whitespace
    * tokens, chars. This is the shape a 100 TB curation run actually
    * executes — the graded single-stage queries are its unit tests.
    */
  def endToEnd(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("th").orderBy("doc_id")
    Tables.documents(spark, sfDir)
      .where(col("n_chars").between(100, 4000))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
              md5(col("text")).as("th"))
      .withColumn("rk", row_number().over(w)).where(col("rk") === 1)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        (size(split(col("text"), " "))).cast("bigint").as("n_tokens"),
        when(conv(substring(md5(concat(lit("split#"), col("doc_id"))), 1, 8),
                  16, 10).cast("bigint") % 100 < 90, "train")
          .otherwise("eval").as("split"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
           sum(col("n_chars")).as("total_chars"))
      .orderBy("split", "lang")
  }

  val endToEndOracle: String = """
WITH filtered AS (
  SELECT doc_id, lang, n_chars, text, md5(text) AS th
  FROM documents WHERE n_chars BETWEEN 100 AND 4000
),
deduped AS (
  SELECT doc_id, lang, n_chars, text FROM (
    SELECT *, row_number() OVER (PARTITION BY th ORDER BY doc_id) AS rk
    FROM filtered) WHERE rk = 1
),
split AS (
  SELECT lang, n_chars,
         cast(len(string_split(text, ' ')) AS bigint) AS n_tokens,
         CASE WHEN cast('0x' || substr(md5('split#' || doc_id), 1, 8)
                    AS bigint) % 100 < 90
              THEN 'train' ELSE 'eval' END AS split
  FROM deduped
)
SELECT split, lang, count(*) AS n_docs,
       cast(sum(n_tokens) AS bigint) AS total_tokens,
       cast(sum(n_chars) AS bigint) AS total_chars
FROM split GROUP BY split, lang ORDER BY split, lang
"""

  /** Length-sorted batching — the padding-waste killer in training
    * dataloaders: batch sequences of similar length together and the
    * per-batch `max_len − len` padding collapses (vs random batching,
    * where every batch pays for its longest straggler). Deterministic
    * batches of 16 over the (n_chars, doc_id) total order; emits each
    * batch's size, max length, and exact padding waste. The spec pins
    * sorted waste ≪ hash-random waste on the same corpus. At 100 TB
    * the same batching is `repartitionByRange(length)` +
    * `sortWithinPartitions` — the range partitioner IS the batcher;
    * the single-partition rank here is the graded miniature.
    */
  def sortedBatches(spark: SparkSession, sfDir: String): DataFrame = {
    val b = 16
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("n_chars", "doc_id")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"))
      .withColumn("batch", ((row_number().over(w) - 1) / b).cast("bigint"))
      .groupBy("batch")
      .agg(count(lit(1)).as("n"),
           max(col("n_chars")).as("max_len"),
           (max(col("n_chars")) * count(lit(1)) - sum(col("n_chars")))
             .as("padding_waste"))
      .orderBy("batch")
  }

  val sortedBatchesOracle: String = """
WITH r AS (
  SELECT doc_id, n_chars,
         (row_number() OVER (ORDER BY n_chars, doc_id) - 1) // 16 AS batch
  FROM documents
)
SELECT batch, count(*) AS n, max(n_chars) AS max_len,
       cast(max(n_chars) * count(*) - sum(n_chars) AS bigint) AS padding_waste
FROM r GROUP BY batch ORDER BY batch
"""

  /** Dataset card — the per-source summary a corpus release ships
    * with: volume (docs, chars, whitespace tokens), language mix, and
    * exact-duplicate rate, in one aggregation pass per source. Every
    * number is integer-exact; the language mix is an ordered
    * lang=count string so the card row is flat.
    */
  def datasetCard(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("source"), col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("bigint").as("n_tokens"),
        md5(col("text")).as("th"))
    val byLang = d.groupBy("source", "lang").agg(count(lit(1)).as("nl"))
      .groupBy("source")
      .agg(concat_ws(",", array_sort(collect_list(
        concat(col("lang"), lit("="), col("nl"))))).as("lang_mix"))
    d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).as("total_chars"),
           sum(col("n_tokens")).as("total_tokens"),
           (count(lit(1)) - countDistinct(col("th"))).as("n_exact_dups"))
      .join(byLang, "source")
      .orderBy("source")
  }

  val datasetCardOracle: String = """
WITH d AS (
  SELECT source, lang, n_chars,
         cast(len(string_split(text, ' ')) AS bigint) AS n_tokens,
         md5(text) AS th
  FROM documents
),
mix AS (
  SELECT source,
         string_agg(lang || '=' || nl, ',' ORDER BY lang || '=' || nl)
           AS lang_mix
  FROM (SELECT source, lang, count(*) AS nl FROM d GROUP BY 1, 2)
  GROUP BY source
)
SELECT d.source, count(*) AS n_docs,
       cast(sum(n_chars) AS bigint) AS total_chars,
       cast(sum(n_tokens) AS bigint) AS total_tokens,
       cast(count(*) - count(DISTINCT th) AS bigint) AS n_exact_dups,
       max(mix.lang_mix) AS lang_mix
FROM d JOIN mix ON mix.source = d.source
GROUP BY d.source ORDER BY d.source
"""

  /** Deterministic source interleaving — the training ORDER builder:
    * within each source docs are shuffled by hash rank (reproducible,
    * no RNG state), then sources are round-robined by taking rank 1
    * from every source, then rank 2, … — the (rank, source) total
    * order. Equal source representation per unit of training, no
    * source-length bias at the front of the run. Graded on the first
    * 60 positions. At scale this order is materialized by a
    * repartitionByRange over (rank, source) — the same key.
    */
  def interleave(spark: SparkSession, sfDir: String): DataFrame = {
    val h = conv(substring(md5(concat(col("source"), lit("~"),
      col("doc_id"))), 1, 14), 16, 10).cast("bigint")
    val wSrc = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("h", "doc_id")
    val wAll = org.apache.spark.sql.expressions.Window
      .orderBy("rk", "source")
    Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), h.as("h"))
      .withColumn("rk", row_number().over(wSrc))
      .withColumn("position", row_number().over(wAll).cast("bigint"))
      .where(col("position") <= 60)
      .select(col("position"), col("source"), col("doc_id"))
      .orderBy("position")
  }

  val interleaveOracle: String = """
WITH h AS (
  SELECT source, doc_id,
         cast('0x' || substr(md5(source || '~' || doc_id), 1, 14) AS bigint)
           AS h
  FROM documents
),
ranked AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
  FROM h
)
SELECT cast(row_number() OVER (ORDER BY rk, source) AS bigint) AS position,
       source, doc_id
FROM ranked QUALIFY position <= 60 ORDER BY position
"""

  /** pipe_curriculum: curriculum ordering — shortest/simplest documents
    * first in coarse difficulty stages, hash-shuffled WITHIN each stage
    * (so a stage is not also sorted by length, which would correlate
    * batch position with every length-covariate signal). Stage =
    * fixed n_chars band (thresholds are corpus-independent constants —
    * no quantile pass, so the stage of a document never changes when
    * the corpus grows); within-stage order = md5-derived uniform, doc_id
    * tiebreak. Emits the first 100 curriculum positions.
    *
    * Scale: the 100-row head is `orderBy.limit` =
    * TakeOrderedAndProject (per-partition top-k, merged on the driver —
    * never a global sort); positions are then ranked by a window over
    * the 100 SURVIVORS only, so the single-partition WindowExec
    * touches a constant-size input at any corpus size (unlike ranking
    * first and filtering after, which would funnel the whole corpus
    * through one partition).
    */
  def curriculum(spark: SparkSession, sfDir: String): DataFrame = {
    val stage = when(col("n_chars") < 200, 0)
      .when(col("n_chars") < 400, 1)
      .when(col("n_chars") < 600, 2)
      .otherwise(3)
    val h = conv(substring(
        md5(concat(lit("cur:"), col("doc_id").cast("string"))), 1, 14),
      16, 10).cast("bigint")
    val top = Tables.documents(spark, sfDir)
      .select(col("doc_id"), stage.as("stage"), h.as("h"))
      .orderBy(col("stage"), col("h"), col("doc_id"))
      .limit(100)
    top
      .withColumn("position",
        row_number().over(Window.orderBy(col("stage"), col("h"), col("doc_id")))
          .cast("bigint"))
      .select(col("position"), col("stage"), col("doc_id"))
      .orderBy("position")
  }

  val curriculumOracle: String = """
WITH s AS (
  SELECT doc_id,
         CASE WHEN n_chars < 200 THEN 0
              WHEN n_chars < 400 THEN 1
              WHEN n_chars < 600 THEN 2
              ELSE 3 END AS stage,
         cast('0x' || substr(md5('cur:' || doc_id), 1, 14) AS bigint) AS h
  FROM documents
)
SELECT cast(row_number() OVER (ORDER BY stage, h, doc_id) AS bigint)
         AS position,
       stage, doc_id
FROM s QUALIFY position <= 100 ORDER BY position
"""

  /** pipe_bpe_merges: one BPE merge step — the top adjacent
    * character-pair counts across the corpus vocabulary, which is
    * exactly the statistic a byte-pair-encoding tokenizer trainer
    * computes per merge iteration (rank 1 IS the next merge; the top 20
    * are emitted so the gate pins the whole candidate frontier, ties
    * broken by pair text). Counts are per occurrence, weighted by word
    * frequency implicitly (every occurrence of a word contributes its
    * pairs — the streaming formulation of the classic dictionary
    * weighting).
    *
    * Scale: explode → explode is two narrow generators (no shuffle
    * until the count); the pair key space is bounded (|charset|²), so
    * the aggregation is map-side-combinable into a tiny table, and
    * top-20 is a TakeOrderedAndProject. A full BPE trainer is this
    * query in a loop with a merge-apply step between iterations.
    */
  def bpeMerges(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
    pairs.groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("pair"))).cast("int"))
      .select("rank", "pair", "n")
      .orderBy("rank")
  }

  val bpeMergesOracle: String = """
WITH w AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
p AS (
  SELECT unnest([substr(w, i, 2) for i in range(1, length(w))]) AS pair
  FROM w WHERE length(w) >= 2
),
c AS (SELECT pair, count(*) AS n FROM p GROUP BY pair)
SELECT cast(row_number() OVER (ORDER BY n DESC, pair) AS int) AS rank,
       pair, n
FROM c QUALIFY rank <= 20 ORDER BY rank
"""

  /** pipe_epoch_shuffle: seeded per-epoch reshuffle — multi-epoch
    * training must present the corpus in a DIFFERENT but REPRODUCIBLE
    * order each epoch (same order across restarts and workers; no RNG
    * state to checkpoint). Order key = `(doc_id·M_epoch) mod
    * 1000000007` with a DISTINCT large multiplier per epoch — a shared
    * multiplier with an additive or small-delta epoch term only
    * rotates values mod p, leaving the relative order unchanged away
    * from the wrap (both caught by the distinct-orders spec); same
    * hash-not-random discipline as pipe_train_split. Tie-broken by
    * doc_id. Graded witness: the first 10 docs of each of 3
    * epochs — enough to pin that epochs permute differently and
    * identically on both engines.
    *
    * Scale: the full-order materialization is a sort by the mix key —
    * in production the key is computed in the reader and ordering is
    * per-shard (sort within output files), so no global sort ever
    * runs; the graded top-10-per-epoch is a bounded window.
    */
  def epochShuffle(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("epoch").orderBy("mix", "doc_id")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(sequence(lit(0L), lit(2L))).as("epoch"))
      .withColumn("mix",
        (col("doc_id") * element_at(
          array(lit(2654435761L), lit(1779033703L), lit(3144134277L)),
          (col("epoch") + 1).cast("int"))) % lit(1000000007L))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .select(col("epoch"), col("rank").cast("bigint").as("rank"),
        col("doc_id"))
      .orderBy("epoch", "rank")
  }

  val epochShuffleOracle: String = """
WITH x AS (
  SELECT doc_id, e.epoch,
         (doc_id * ([2654435761, 1779033703, 3144134277])[e.epoch + 1])
           % 1000000007 AS mix
  FROM documents, (SELECT unnest([0, 1, 2]) AS epoch) e
),
r AS (
  SELECT epoch, doc_id,
         row_number() OVER (PARTITION BY epoch ORDER BY mix, doc_id) AS rank
  FROM x
)
SELECT epoch, cast(rank AS bigint) AS rank, doc_id
FROM r WHERE rank <= 10 ORDER BY epoch, rank
"""

  /** pipe_temperature_mix: temperature-scaled language sampling weights
    * — the α-smoothing every multilingual pretraining mix applies
    * (mC4 / XLM-R style): raw share `n_l / N` is flattened to
    * `n_l^α / Σ n^α` with α = 0.5, so low-resource languages are
    * upsampled without letting any language dominate. Emits, per
    * language: the corpus count, the uniform share, the α = 0.5 share,
    * and the per-epoch document allocation at a 100k budget.
    *
    * Exactness with a real root: α = 0.5 is `sqrt`, which IEEE 754
    * guarantees CORRECTLY ROUNDED — the one transcendental-adjacent op
    * that is safe in a cross-engine hash gate. Each per-language
    * `floor(sqrt(n_l) · 10⁶)` is computed independently (identical
    * expression text both engines → identical bits), and the
    * normalizing constant is the INTEGER sum of those floored values —
    * so no float ever crosses an aggregation whose order could differ.
    *
    * Scale: one count per language, a ≤|langs|-row window sum, pure
    * projection after — the language table is trivially broadcast at
    * any corpus size.
    */
  def temperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .select(col("lang"), col("n_docs"),
        floor(sqrt(col("n_docs").cast("double")) * lit(1000000.0))
          .cast("bigint").as("sfp"))
    val w = Window.partitionBy()
    counts
      .select(col("lang"), col("n_docs"),
        sum(col("n_docs")).over(w).as("n_total"),
        col("sfp"), sum(col("sfp")).over(w).as("s_total"))
      .select(col("lang"), col("n_docs"),
        expr("(n_docs * 1000000) div n_total").as("uniform_ppm"),
        expr("(sfp * 1000000) div s_total").as("alpha05_ppm"),
        expr("(100000 * ((sfp * 1000000) div s_total)) div 1000000")
          .as("alloc_100k"))
      .orderBy("lang")
  }

  val temperatureMixOracle: String = """
WITH c AS (
  SELECT lang, count(*) AS n_docs,
         cast(floor(sqrt(count(*)::double) * 1000000.0) AS bigint) AS sfp
  FROM documents GROUP BY lang
),
t AS (
  SELECT lang, n_docs,
         sum(n_docs) OVER () AS n_total,
         sfp, sum(sfp) OVER () AS s_total
  FROM c
)
SELECT lang, n_docs,
       CAST((n_docs * 1000000) // n_total AS BIGINT) AS uniform_ppm,
       CAST((sfp * 1000000) // s_total AS BIGINT) AS alpha05_ppm,
       CAST((100000 * ((sfp * 1000000) // s_total)) // 1000000 AS BIGINT)
         AS alloc_100k
FROM t ORDER BY lang
"""

  /** pipe_preference_pairs: preference-pair mining — per (source,
    * lang) group, pair the highest- and lowest-scoring document into a
    * (chosen, rejected) training example, the construction step behind
    * DPO/RLHF-style datasets when the "preference" is a computed
    * quality signal rather than a human label. The score is lexical
    * diversity in integer ppm (`distinct words · 10⁶ div total words`
    * — boilerplate repeats itself, diverse text does not), with doc_id
    * as the total tie-break, so pair selection is fully deterministic.
    * Groups whose best and worst coincide (single-doc groups) emit no
    * pair — a degenerate example teaches nothing.
    *
    * Scale: the per-doc score is one explode + two combinable counts;
    * picking extrema is a per-group min/max of a (score, doc_id)
    * struct — NO window, no sort: two map-side-combinable aggregates
    * regardless of group sizes. Output rows ≤ |source × lang|.
    */
  def preferencePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.documents(spark, sfDir)
      .select(col("source"), col("lang"), col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      .groupBy("source", "lang", "doc_id")
      .agg(expr("(count(DISTINCT w) * 1000000) div count(1)").as("score"))
    scored.groupBy("source", "lang")
      .agg(max(struct(col("score"), col("doc_id"))).as("best"),
           min(struct(col("score"), col("doc_id"))).as("worst"))
      .where(col("best.doc_id") =!= col("worst.doc_id"))
      .select(col("source"), col("lang"),
        col("best.doc_id").as("chosen_doc"),
        col("worst.doc_id").as("rejected_doc"),
        col("best.score").as("chosen_score"),
        col("worst.score").as("rejected_score"),
        (col("best.score") - col("worst.score")).as("score_gap"))
      .orderBy("source", "lang")
  }

  val preferencePairsOracle: String = """
WITH scored AS (
  SELECT source, lang, doc_id,
         (count(DISTINCT w) * 1000000) // count(*) AS score
  FROM (SELECT source, lang, doc_id,
               unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT source, lang, doc_id, score,
         row_number() OVER (PARTITION BY source, lang
                            ORDER BY score DESC, doc_id DESC) AS rb,
         row_number() OVER (PARTITION BY source, lang
                            ORDER BY score ASC, doc_id ASC) AS rw
  FROM scored
)
SELECT b.source, b.lang, b.doc_id AS chosen_doc, w.doc_id AS rejected_doc,
       CAST(b.score AS BIGINT) AS chosen_score,
       CAST(w.score AS BIGINT) AS rejected_score,
       CAST(b.score - w.score AS BIGINT) AS score_gap
FROM ranked b
JOIN ranked w ON w.source = b.source AND w.lang = b.lang AND w.rw = 1
WHERE b.rb = 1 AND b.doc_id <> w.doc_id
ORDER BY b.source, b.lang
"""

  /** pipe_span_masking: T5/BERT-style span corruption PLANNING — which
    * tokens a denoising objective would mask, as a deterministic
    * function of (doc_id, position): a 3-token span starts wherever
    * `(doc_id + pos) mod 7 = 0` (≈ 15% start rate ⇒ ~39% of tokens
    * masked once spans merge), overlapping/adjacent spans coalesce.
    * Per doc: token count, masked count, number of MAXIMAL masked runs
    * (= sentinel tokens the encoder input needs), and the masked ppm.
    * Hash-free mod arithmetic, so the masking is reproducible across
    * epochs and engines — the same no-RNG discipline as the split/
    * shuffle/mixing queries.
    *
    * The span-run count uses no window at all: a token OPENS a run iff
    * it is masked and its predecessor is not, and both flags have
    * CLOSED FORMS (`masked(i) = ∃ j ∈ [max(0, i−2), i]:
    * (doc_id + j) mod 7 = 0`), so the whole query is one explode and
    * one combinable aggregate — at 100 TB the masking pass costs
    * exactly one tokenizer scan, no per-doc sort.
    */
  def spanMasking(spark: SparkSession, sfDir: String): DataFrame = {
    def startsAt(p: Column): Column = (col("doc_id") + p) % 7 === 0
    def maskedAt(p: Column): Column =
      startsAt(p) || (p >= 1 && startsAt(p - 1)) || (p >= 2 && startsAt(p - 2))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos"),
        maskedAt(col("pos")).as("m"),
        (maskedAt(col("pos")) && !(col("pos") >= 1 && maskedAt(col("pos") - 1)))
          .as("opens"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
           sum(when(col("m"), 1L).otherwise(0L)).as("n_masked"),
           sum(when(col("opens"), 1L).otherwise(0L)).as("n_spans"))
      .select(col("doc_id"), col("n_tokens"), col("n_masked"), col("n_spans"),
        expr("(n_masked * 1000000) div n_tokens").as("masked_ppm"))
      .orderBy("doc_id")
  }

  val spanMaskingOracle: String = """
WITH toks AS (
  SELECT doc_id,
         unnest(range(0, len(string_split(text, ' ')))) AS pos
  FROM documents
),
flags AS (
  SELECT doc_id, pos,
         ((doc_id + pos) % 7 = 0
          OR (pos >= 1 AND (doc_id + pos - 1) % 7 = 0)
          OR (pos >= 2 AND (doc_id + pos - 2) % 7 = 0)) AS m,
         NOT (pos >= 1 AND ((doc_id + pos - 1) % 7 = 0
              OR (pos >= 2 AND (doc_id + pos - 2) % 7 = 0)
              OR (pos >= 3 AND (doc_id + pos - 3) % 7 = 0))) AS prev_clear
  FROM toks
)
SELECT doc_id, count(*) AS n_tokens,
       CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
       CAST(sum(CASE WHEN m AND prev_clear THEN 1 ELSE 0 END) AS BIGINT)
         AS n_spans,
       CAST((sum(CASE WHEN m THEN 1 ELSE 0 END) * 1000000) // count(*)
            AS BIGINT) AS masked_ppm
FROM flags GROUP BY doc_id ORDER BY doc_id
"""

  /** pipe_kfold: deterministic 5-fold cross-validation assignment with
    * a duplicate-LEAKAGE audit — the eval-hygiene twin of
    * [[trainSplit]]. Folds come from an md5 hash of the doc id (no RNG,
    * stable under corpus growth, any engine reproduces it); the audit
    * then counts, per fold, the exact-duplicate groups (normalized
    * token-set key, [[DedupQueries.dedupExact]]'s definition) that ALSO
    * appear in another fold — the cross-fold contamination that makes
    * CV scores lie. A clean corpus reports zero; this testdata's
    * duplicate families give every fold a non-trivial count.
    *
    * Scale: one hash projection, one groupBy(key) for the group spans
    * (map-side combinable countDistinct over ≤ 5 folds), one keyed
    * join back — every stage keyed, nothing global but the 5-row sort.
    */
  def kfold(spark: SparkSession, sfDir: String): DataFrame = {
    val fold = (conv(substring(md5(concat(lit("kf#"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("bigint") % 5)
      .as("fold")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), fold,
        size(split(col("text"), " ")).cast("bigint").as("n_tokens"),
        concat_ws(" ",
          sort_array(array_distinct(split(col("text"), " ")))).as("key"))
      .localCheckpoint() // group audit and per-fold rollup share the scan
    val groups = docs.groupBy("key")
      .agg(countDistinct(col("fold")).as("n_folds"))
    docs.join(groups, "key")
      .groupBy("fold")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("n_tokens"),
           countDistinct(when(col("n_folds") > 1, col("key"))).as("n_leaky_groups"),
           sum(when(col("n_folds") > 1, 1L).otherwise(0L)).as("n_leaky_docs"))
      .orderBy("fold")
  }

  val kfoldOracle: String = """
WITH docs AS (
  SELECT doc_id,
         cast('0x' || substr(md5('kf#' || doc_id), 1, 8) AS bigint) % 5
           AS fold,
         len(string_split(text, ' ')) AS n_tokens,
         array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')
           AS key
  FROM documents
),
groups AS (
  SELECT key, count(DISTINCT fold) AS n_folds FROM docs GROUP BY key
)
SELECT fold, count(*) AS n_docs,
       CAST(sum(d.n_tokens) AS BIGINT) AS n_tokens,
       count(DISTINCT CASE WHEN g.n_folds > 1 THEN d.key END)
         AS n_leaky_groups,
       CAST(sum(CASE WHEN g.n_folds > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_leaky_docs
FROM docs d JOIN groups g USING (key)
GROUP BY fold ORDER BY fold
"""

  /** pipe_fim: fill-in-the-middle split planning — the FIM transform
    * code-model training applies to a fraction of documents: two
    * hash-derived token boundaries cut each doc into prefix / middle /
    * suffix, and a hash bit picks PSM vs SPM segment order. Like
    * [[spanMasking]], the plan is CLOSED-FORM per doc (pure mod
    * arithmetic on the token count — no RNG, no explode, no window),
    * so both engines derive identical splits and the gate checks every
    * boundary. Graded per doc: segment lengths, mode, and the
    * middle-fraction ppm.
    *
    * Scale: a narrow projection — the cheapest possible shape; the
    * actual corpus rewrite would be one `substring` pass downstream.
    */
  def fim(spark: SparkSession, sfDir: String): DataFrame = {
    def h(salt: String) = conv(substring(md5(concat(lit(salt),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("bigint")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("bigint").as("n_tokens"),
        h("fim1#").as("h1"), h("fim2#").as("h2"), h("fimm#").as("hm"))
      .select(col("doc_id"), col("n_tokens"),
        least(col("h1") % col("n_tokens"), col("h2") % col("n_tokens"))
          .as("lo"),
        greatest(col("h1") % col("n_tokens"), col("h2") % col("n_tokens"))
          .as("hi"),
        when(col("hm") % 2 === 0, "psm").otherwise("spm").as("mode"))
      .select(col("doc_id"), col("n_tokens"), col("mode"),
        col("lo").as("n_prefix"),
        (col("hi") - col("lo")).as("n_middle"),
        (col("n_tokens") - col("hi")).as("n_suffix"),
        expr("((hi - lo) * 1000000) div n_tokens").as("middle_ppm"))
      .orderBy("doc_id")
  }

  val fimOracle: String = """
WITH d AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         cast('0x' || substr(md5('fim1#' || doc_id), 1, 8) AS bigint) AS h1,
         cast('0x' || substr(md5('fim2#' || doc_id), 1, 8) AS bigint) AS h2,
         cast('0x' || substr(md5('fimm#' || doc_id), 1, 8) AS bigint) AS hm
  FROM documents
),
b AS (
  SELECT doc_id, n_tokens,
         least(h1 % n_tokens, h2 % n_tokens) AS lo,
         greatest(h1 % n_tokens, h2 % n_tokens) AS hi,
         CASE WHEN hm % 2 = 0 THEN 'psm' ELSE 'spm' END AS mode
  FROM d
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, mode,
       CAST(lo AS BIGINT) AS n_prefix,
       CAST(hi - lo AS BIGINT) AS n_middle,
       CAST(n_tokens - hi AS BIGINT) AS n_suffix,
       CAST(((hi - lo) * 1000000) // n_tokens AS BIGINT) AS middle_ppm
FROM b ORDER BY doc_id
"""

  /** pipe_calibration: reliability curve of the quality classifier —
    * per heuristic score bucket (0..4, [[qualityFilter]]'s rule count),
    * how often the doc is actually "good" (here: not an exact
    * duplicate, the one ground-truth label this corpus carries). The
    * calibration table is what decides whether a filter's score can be
    * thresholded or must be recalibrated — a real eval step before any
    * score-gated corpus cut; rates are integer ppm.
    *
    * Scale: two keyed passes (score projection, dup-key group sizes)
    * joined on doc_id, then a 5-row combinable rollup.
    */
  def calibration(spark: SparkSession, sfDir: String): DataFrame = {
    val scores = qualityFilter(spark, sfDir)
      .select(col("doc_id"), col("quality_score"))
    val w = Window.partitionBy("key")
    val labels = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        concat_ws(" ",
          sort_array(array_distinct(split(col("text"), " ")))).as("key"))
      .select(col("doc_id"),
        (count(lit(1)).over(w) === 1).cast("long").as("is_unique"))
    scores.join(labels, "doc_id")
      .groupBy("quality_score")
      .agg(count(lit(1)).as("n_docs"), sum(col("is_unique")).as("n_unique"))
      .select(col("quality_score"), col("n_docs"), col("n_unique"),
        expr("(n_unique * 1000000) div n_docs").as("unique_ppm"))
      .orderBy("quality_score")
  }

  val calibrationOracle: String = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
m AS (
  SELECT doc_id, len(w) AS n_tokens, len(list_distinct(w)) AS n_types,
         list_sum(list_transform(w, x -> length(x))) AS sum_len,
         len(list_filter(w, x -> list_contains(
           ['the','a','of','and','to','in','is'], x))) AS sw_hits
  FROM t),
s AS (
  SELECT doc_id,
         (CASE WHEN n_tokens BETWEEN 20 AND 400 THEN 1 ELSE 0 END)
       + (CASE WHEN sum_len >= 2 * n_tokens AND sum_len <= 8 * n_tokens
               THEN 1 ELSE 0 END)
       + (CASE WHEN sw_hits * 50 >= n_tokens THEN 1 ELSE 0 END)
       + (CASE WHEN n_types * 5 >= n_tokens THEN 1 ELSE 0 END)
           AS quality_score
  FROM m),
k AS (
  SELECT doc_id,
         array_to_string(list_sort(list_distinct(string_split(text, ' '))),
                         ' ') AS key
  FROM documents),
lab AS (
  SELECT doc_id,
         CASE WHEN count(*) OVER (PARTITION BY key) = 1 THEN 1 ELSE 0 END
           AS is_unique
  FROM k)
SELECT s.quality_score, count(*) AS n_docs,
       CAST(sum(lab.is_unique) AS BIGINT) AS n_unique,
       CAST((sum(lab.is_unique) * 1000000) // count(*) AS BIGINT)
         AS unique_ppm
FROM s JOIN lab ON lab.doc_id = s.doc_id
GROUP BY 1 ORDER BY quality_score
"""

  /** pipe_token_budget: training-token budget allocation by the
    * largest-remainder (Hamilton) method — given a global budget of
    * 1 000 000 tokens, each source gets `floor(budget·its_tokens/total)`
    * and the leftover seats go to the largest fractional remainders
    * (ties broken by source name), so the allocations sum EXACTLY to
    * the budget — the property naive per-source rounding violates and
    * the reason apportionment methods exist. Everything is integer:
    * remainders compare as `budget·tokens mod total`.
    *
    * Scale: one combinable per-source rollup (20 rows) + one rank
    * window over those 20 rows; the driver never sees data.
    */
  def tokenBudget(spark: SparkSession, sfDir: String): DataFrame = {
    val budget = 1000000L
    val per = Tables.documents(spark, sfDir)
      .select(col("source"),
        size(split(col("text"), " ")).cast("bigint").as("t"))
      .groupBy("source").agg(sum(col("t")).as("tokens"))
    val tot = per.withColumn("total", sum(col("tokens")).over(Window
      .partitionBy()))
    val scored = tot.select(col("source"), col("tokens"),
        expr(s"(${budget}L * tokens) div total").as("base"),
        expr(s"(${budget}L * tokens) % total").as("rem"),
        col("total"))
      .withColumn("leftover",
        lit(budget) - sum(col("base")).over(Window.partitionBy()))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))))
    scored
      .select(col("source"), col("tokens"),
        (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .as("alloc"))
      .orderBy("source")
  }

  val tokenBudgetOracle: String = """
WITH per AS (
  SELECT source, sum(len(string_split(text, ' '))) AS tokens
  FROM documents GROUP BY 1
),
t AS (SELECT *, sum(tokens) OVER () AS total FROM per),
s AS (
  SELECT source, tokens,
         (1000000 * tokens) // total AS base,
         (1000000 * tokens) % total AS rem
  FROM t
),
l AS (
  SELECT *, 1000000 - sum(base) OVER () AS leftover,
         row_number() OVER (ORDER BY rem DESC, source) AS rk
  FROM s
)
SELECT source, CAST(tokens AS BIGINT) AS tokens,
       CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS alloc
FROM l ORDER BY source
"""

  /** pipe_dataset_diff: dataset VERSION diffing — the release audit
    * run between corpus v1 and v2: per source, how many docs were
    * removed, changed, or kept byte-identical. v2 is derived
    * deterministically (every 97th doc dropped — a takedown batch;
    * German docs re-redacted — a policy change), and the diff compares
    * md5 content fingerprints under a doc_id-keyed join (left, since
    * this v2 adds nothing; a version with additions flips it to
    * full-outer), so the accounting is exact and the gate proves the
    * diff finds precisely the injected changes, nothing else.
    *
    * Scale: fingerprints reduce each side to (id, 16 bytes); the
    * full-outer join keys on doc_id — the standard two-snapshot diff
    * that never materializes either corpus twice. (`io_table_checksum`
    * is the cheaper partition-level screen; this is the row-level
    * drill-down a detected delta triggers.)
    */
  def datasetDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val v1 = Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), md5(col("text")).as("fp"))
      .localCheckpoint() // v2 derives from the same scan
    val v2 = Tables.documents(spark, sfDir)
      .where(col("doc_id") % 97 =!= 0)
      .select(col("source"), col("doc_id"),
        md5(when(col("lang") === "de",
          regexp_replace(col("text"), "the", "[...]"))
          .otherwise(col("text"))).as("fp"))
    v1.toDF("source", "doc_id", "fp1")
      .join(v2.select(col("doc_id"), col("fp").as("fp2")),
        Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_v1"),
        sum(when(col("fp2").isNull, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("fp2").isNotNull && col("fp1") =!= col("fp2"), 1L)
          .otherwise(0L)).as("n_changed"),
        sum(when(col("fp1") === col("fp2"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy("source")
  }

  val datasetDiffOracle: String = """
WITH v1 AS (
  SELECT source, doc_id, md5(text) AS fp FROM documents
),
v2 AS (
  SELECT doc_id,
         md5(CASE WHEN lang = 'de' THEN replace(text, 'the', '[...]')
                  ELSE text END) AS fp
  FROM documents WHERE doc_id % 97 <> 0
)
SELECT v1.source, count(*) AS n_v1,
       CAST(sum(CASE WHEN v2.fp IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       CAST(sum(CASE WHEN v2.fp IS NOT NULL AND v1.fp <> v2.fp
                THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       CAST(sum(CASE WHEN v1.fp = v2.fp THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept
FROM v1 LEFT JOIN v2 ON v2.doc_id = v1.doc_id
GROUP BY v1.source ORDER BY v1.source
"""

  /** pipe_oversample: minority-class rebalancing by integer
    * replication — each language's docs are replicated
    * `floor(maxN / n)` times so no class trains at less than ~half the
    * majority's weight, the deterministic no-RNG form of oversampling
    * (the fractional remainder would be a hash-selected partial copy —
    * [[trainSplit]]'s mechanism — kept out so the factor stays exactly
    * auditable). The explode actually RUNS (the gate counts the
    * replicated rows), not just the plan for it.
    *
    * Scale: the class-count table is a broadcast dim; replication is a
    * narrow explode with per-row factor — output is ≤ |classes|·maxN
    * rows, the intended training-set size.
    */
  def oversample(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .groupBy("lang").agg(count(lit(1)).as("n_orig"))
      .localCheckpoint()
    val maxN = counts.agg(max(col("n_orig"))).head().getLong(0)
    val rep = counts.select(col("lang"), col("n_orig"),
      expr(s"${maxN}L div n_orig").as("rep"))
    Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"))
      .join(broadcast(rep), "lang")
      .select(col("lang"), col("n_orig"),
        explode(expr("sequence(1L, rep)")).as("copy"))
      .groupBy("lang")
      .agg(max(col("n_orig")).as("n_orig"),
           max(col("copy")).as("rep_factor"),
           count(lit(1)).as("n_after"))
      .select(col("lang"), col("n_orig"), col("rep_factor"), col("n_after"),
        expr(s"(n_after * 1000000) div ${maxN}L").as("share_of_max_ppm"))
      .orderBy("lang")
  }

  val oversampleOracle: String = """
WITH c AS (SELECT lang, count(*) AS n_orig FROM documents GROUP BY 1),
m AS (SELECT max(n_orig) AS maxn FROM c),
r AS (SELECT lang, n_orig, (SELECT maxn FROM m) // n_orig AS rep FROM c),
x AS (
  SELECT d.lang, r.n_orig, unnest(range(1, r.rep + 1)) AS copy
  FROM documents d JOIN r ON r.lang = d.lang
)
SELECT lang, CAST(max(n_orig) AS BIGINT) AS n_orig,
       CAST(max(copy) AS BIGINT) AS rep_factor,
       count(*) AS n_after,
       CAST((count(*) * 1000000) // (SELECT maxn FROM m) AS BIGINT)
         AS share_of_max_ppm
FROM x GROUP BY lang ORDER BY lang
"""

  /** pipe_topk_per_source: per-source top-k document selection via the
    * custom [[graft.plans.TopKPerKey]] operator — the curation
    * primitive "keep each source's k best documents", exercised in its
    * measured-winning shape: a HANDFUL of hot keys (20 sources) over
    * the whole corpus, where the bounded-heap partial/final plan beats
    * the window idiom 2.6-4x (SCALE.md: 0.8s vs 2.1s at 20M
    * rows x 10 keys) because nothing is sorted and the shuffle carries
    * ≤ k rows per source per map task. Score: n_chars (length as the
    * richer-context proxy), doc_id closes ties to a total order.
    */
  def topkPerSource(spark: SparkSession, sfDir: String): DataFrame =
    graft.plans.TopKPerKey.topK(
        Tables.documents(spark, sfDir)
          .select(col("source"), col("doc_id"), col("n_chars")),
        Seq(col("source")),
        Seq(col("n_chars").desc, col("doc_id").asc), 5)
      .orderBy(col("source"), col("n_chars").desc, col("doc_id"))

  val topkPerSourceOracle: String = """
SELECT source, doc_id, n_chars FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents) t
WHERE rn <= 5 ORDER BY source, n_chars DESC, doc_id
"""

  /** Bradley-Terry strength fitting from pairwise preferences — the
    * rating model behind RLHF preference data QA (which annotator /
    * model / source wins head-to-heads, with strength scores rather
    * than raw win counts, so unbalanced matchup graphs don't mislead).
    * Duels: adjacent doc pairs from DIFFERENT sources, winner = more
    * characters (tie → lexicographically smaller source) — a
    * deterministic stand-in for human preference labels. Fit: three
    * unrolled minorization-maximization iterations
    * `p_i ← W_i / Σ_j n_ij/(p_i+p_j)` entirely in 10⁶ fixed point
    * (integer div both engines, order-independent integer sums — a
    * float MM would die on summation-order divergence at the hash
    * gate). MM needs no step size and is monotone in likelihood
    * (Hunter 2004), and three iterations already separate the
    * strengths at this matchup density; the oracle replays the exact
    * arithmetic.
    *
    * Scale: duel extraction is one narrow self-join on doc_id+1 (at
    * 100 TB: a real preference log arrives as pairs already); the MM
    * iterations run on the SOURCE-level table — constant-size, joined
    * against the constant-size opponent matrix. Nothing grows with
    * corpus size after the first aggregation.
    *
    * Fixed-point bound, stated (ADVICE r9): the scaled products
    * `n · 10¹²` and `w · 10¹²` require any single matchup pair's duel
    * count — and any source's total win count — to stay below
    * 2⁶³/10¹² ≈ 9.2 million, or ANSI mode fails the multiply loudly
    * (never silently wrong). Past that, bucket the preference log by
    * (pair, epoch) before fitting, or widen the fit to DECIMAL(38,0)
    * in both engines; the MM arithmetic is unchanged either way.
    */
  def bradleyTerry(spark: SparkSession, sfDir: String): DataFrame = {
    val S2 = 1000000000000L // (10^6)^2 — fixed-point square
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val duels = d.toDF("i1", "s1", "c1")
      .join(d.toDF("i2", "s2", "c2"),
        col("i2") === col("i1") + 1 && col("s1") =!= col("s2"))
      .select(col("s1"), col("s2"),
        when(col("c1") > col("c2") ||
             (col("c1") === col("c2") && col("s1") < col("s2")),
          col("s1")).otherwise(col("s2")).as("winner"))
      .localCheckpoint() // the corpus-sized self-join runs ONCE;
                         // games and wins both aggregate from it
    val games = duels
      .select(least(col("s1"), col("s2")).as("a"),
              greatest(col("s1"), col("s2")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
    val opp = games.select(col("a").as("i"), col("b").as("j"), col("n"))
      .unionAll(games.select(col("b").as("i"), col("a").as("j"), col("n")))
      .localCheckpoint() // constant-size opponent matrix, reused 3×
    val wins = duels.groupBy(col("winner").as("source"))
      .agg(count(lit(1)).as("w"))
    val w = d.select(col("source")).distinct()
      .join(wins, Seq("source"), "left")
      .select(col("source"), coalesce(col("w"), lit(0L)).as("w"))
      .localCheckpoint()
    var p = w.select(col("source"), lit(1000000L).as("p"))
    for (_ <- 1 to 3) {
      val den = opp
        .join(p.toDF("i", "pi"), "i")
        .join(p.toDF("j", "pj"), "j")
        .select(col("i").as("source"),
          expr(s"(n * $S2) div greatest(pi + pj, 1)").as("t"))
        .groupBy("source").agg(sum(col("t")).as("den"))
      p = w.join(den, Seq("source"), "left")
        .select(col("source"),
          expr(s"(w * $S2) div greatest(coalesce(den, 0), 1)").as("p"))
    }
    val g = opp.groupBy(col("i").as("source")).agg(sum(col("n")).as("games"))
    w.join(g, Seq("source"), "left")
      .join(p, "source")
      .select(col("source"), col("w").as("wins"),
        coalesce(col("games"), lit(0L)).as("games"),
        col("p").as("strength"))
      .orderBy("source")
  }

  val bradleyTerryOracle: String = """
WITH duels AS (
  SELECT d1.source AS s1, d2.source AS s2,
         CASE WHEN d1.n_chars > d2.n_chars
                OR (d1.n_chars = d2.n_chars AND d1.source < d2.source)
              THEN d1.source ELSE d2.source END AS winner
  FROM documents d1 JOIN documents d2
    ON d2.doc_id = d1.doc_id + 1 AND d1.source <> d2.source),
games AS (
  SELECT least(s1, s2) AS a, greatest(s1, s2) AS b, count(*) AS n
  FROM duels GROUP BY 1, 2),
opp AS (SELECT a AS i, b AS j, n FROM games
        UNION ALL SELECT b, a, n FROM games),
w AS (
  SELECT s.source, CAST(coalesce(wn.w, 0) AS BIGINT) AS w
  FROM (SELECT DISTINCT source FROM documents) s
  LEFT JOIN (SELECT winner AS source, count(*) AS w FROM duels
             GROUP BY 1) wn ON wn.source = s.source),
p0 AS (SELECT source, CAST(1000000 AS BIGINT) AS p FROM w),
it1 AS (
  SELECT w.source,
         CAST((w.w * 1000000000000) // greatest(coalesce(dn.den, 0), 1) AS BIGINT) AS p
  FROM w LEFT JOIN (
    SELECT o.i AS source,
           sum((o.n * 1000000000000) // greatest(pi.p + pj.p, 1)) AS den
    FROM opp o JOIN p0 pi ON pi.source = o.i JOIN p0 pj ON pj.source = o.j
    GROUP BY o.i) dn ON dn.source = w.source),
it2 AS (
  SELECT w.source,
         CAST((w.w * 1000000000000) // greatest(coalesce(dn.den, 0), 1) AS BIGINT) AS p
  FROM w LEFT JOIN (
    SELECT o.i AS source,
           sum((o.n * 1000000000000) // greatest(pi.p + pj.p, 1)) AS den
    FROM opp o JOIN it1 pi ON pi.source = o.i JOIN it1 pj ON pj.source = o.j
    GROUP BY o.i) dn ON dn.source = w.source),
it3 AS (
  SELECT w.source,
         CAST((w.w * 1000000000000) // greatest(coalesce(dn.den, 0), 1) AS BIGINT) AS p
  FROM w LEFT JOIN (
    SELECT o.i AS source,
           sum((o.n * 1000000000000) // greatest(pi.p + pj.p, 1)) AS den
    FROM opp o JOIN it2 pi ON pi.source = o.i JOIN it2 pj ON pj.source = o.j
    GROUP BY o.i) dn ON dn.source = w.source)
SELECT w.source, w.w AS wins,
       CAST(coalesce(g.games, 0) AS BIGINT) AS games,
       it3.p AS strength
FROM w
LEFT JOIN (SELECT i AS source, sum(n) AS games FROM opp GROUP BY 1) g
  ON g.source = w.source
JOIN it3 ON it3.source = w.source
ORDER BY w.source
"""

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe_bradley_terry" -> (bradleyTerry _),
    "pipe_topk_per_source" -> (topkPerSource _),
    "pipe_oversample" -> (oversample _),
    "pipe_dataset_diff" -> (datasetDiff _),
    "pipe_token_budget" -> (tokenBudget _),
    "pipe_calibration" -> (calibration _),
    "pipe_fim" -> (fim _),
    "pipe_kfold" -> (kfold _),
    "pipe_span_masking" -> (spanMasking _),
    "pipe_preference_pairs" -> (preferencePairs _),
    "pipe_temperature_mix" -> (temperatureMix _),
    "pipe_epoch_shuffle" -> (epochShuffle _),
    "pipe_bpe_merges" -> (bpeMerges _),
    "pipe_curriculum" -> (curriculum _),
    "pipe_interleave" -> (interleave _),
    "pipe_dataset_card" -> (datasetCard _),
    "pipe_sorted_batches" -> (sortedBatches _),
    "pipe_end_to_end" -> (endToEnd _),
    "pipe_stratified_sample" -> (stratifiedSample _),
    "pipe_train_split" -> (trainSplit _),
    "pipe_quality_filter" -> (qualityFilter _),
    "pipe_best_of_n" -> (bestOfN _),
    "pipe_pii_redact" -> (piiRedact _),
    "pipe_sample_mix" -> (sampleMix _),
    "pipe_dedup_merge" -> (dedupMerge _),
    "pipe_token_chunks" -> (tokenChunks _),
    "pipe_pack_sequences" -> (packSequences _),
    "pipe_vocab_topk" -> (vocabTopK _),
    "pipe_decontaminate" -> (decontaminate _),
  )

  val oracles: Map[String, String] = Map(
    "pipe_topk_per_source" -> topkPerSourceOracle,
    "pipe_oversample" -> oversampleOracle,
    "pipe_dataset_diff" -> datasetDiffOracle,
    "pipe_token_budget" -> tokenBudgetOracle,
    "pipe_calibration" -> calibrationOracle,
    "pipe_fim" -> fimOracle,
    "pipe_kfold" -> kfoldOracle,
    "pipe_span_masking" -> spanMaskingOracle,
    "pipe_preference_pairs" -> preferencePairsOracle,
    "pipe_bradley_terry" -> bradleyTerryOracle,
    "pipe_temperature_mix" -> temperatureMixOracle,
    "pipe_epoch_shuffle" -> epochShuffleOracle,
    "pipe_bpe_merges" -> bpeMergesOracle,
    "pipe_curriculum" -> curriculumOracle,
    "pipe_interleave" -> interleaveOracle,
    "pipe_dataset_card" -> datasetCardOracle,
    "pipe_sorted_batches" -> sortedBatchesOracle,
    "pipe_end_to_end" -> endToEndOracle,
    "pipe_stratified_sample" -> stratifiedSampleOracle,
    "pipe_train_split" -> trainSplitOracle,
    "pipe_quality_filter" -> qualityFilterOracle,
    "pipe_best_of_n" -> bestOfNOracle,
    "pipe_pii_redact" -> piiRedactOracle,
    "pipe_sample_mix" -> sampleMixOracle,
    "pipe_dedup_merge" -> dedupMergeOracle,
    "pipe_token_chunks" -> tokenChunksOracle,
    "pipe_pack_sequences" -> packSequencesOracle,
    "pipe_vocab_topk" -> vocabTopKOracle,
    "pipe_decontaminate" -> decontaminateOracle,
  )
}
