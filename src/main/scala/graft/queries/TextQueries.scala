package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents`: quality statistics,
  * stopword-heuristic language ID, dual tokenization counts, and
  * rolling-shingle document fingerprinting. All integer/string-derived
  * and therefore bit-exact against the DuckDB oracles.
  */
object TextQueries {

  private val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un"),
    "fr" -> Seq("le", "la", "de", "et", "que", "en", "un"),
    "de" -> Seq("der", "die", "das", "und", "zu", "in", "ein"),
    "zh" -> Seq("的", "了", "是", "在", "我", "有", "和"),
  )

  /** Per-document stats: token counts, type-token ratio, average token
    * length, english-stopword ratio. Ratios divide exact ints → double →
    * round(4); identical in both engines.
    */
  def textStats(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val sw = array(Stopwords("en").map(lit): _*)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), toks.as("w"))
      .select(
        col("doc_id"), col("lang"),
        size(col("w")).as("n_tokens"),
        size(array_distinct(col("w"))).as("n_types"),
        round(size(array_distinct(col("w"))).cast("double") / size(col("w")), 4).as("ttr"),
        round(aggregate(col("w"), lit(0L), (acc: Column, x: Column) => acc + length(x))
                .cast("double") / size(col("w")), 4).as("avg_token_len"),
        round(size(filter(col("w"), (x: Column) => array_contains(sw, x))).cast("double")
                / size(col("w")), 4).as("stopword_ratio"))
      .orderBy("doc_id")
  }

  val textStatsOracle: String = """
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents)
SELECT doc_id, lang,
  len(w) AS n_tokens,
  len(list_distinct(w)) AS n_types,
  round(len(list_distinct(w))::double / len(w), 4) AS ttr,
  round(list_sum(list_transform(w, x -> length(x)))::double / len(w), 4) AS avg_token_len,
  round(len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], x)))::double / len(w), 4) AS stopword_ratio
FROM t ORDER BY doc_id
"""

  /** Stopword-list language ID: score = stopword hits per language,
    * argmax with alphabetical tie-break (deterministic heuristic; the
    * synthetic corpus carries no real language signal, so `correct`
    * simply reports agreement with the label column).
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = split(col("text"), " ")
    // argmax with deterministic tie-break: encode each (score, lang) as
    // "00042:en" and take greatest() — max score, then last lang
    // alphabetically. Mirrors 1:1 into the SQL oracle.
    val encoded = Stopwords.toSeq.sortBy(_._1).map { case (l, words) =>
      val swArr = array(words.map(lit): _*)
      concat(lpad(size(filter(col("w"), (x: Column) => array_contains(swArr, x)))
        .cast("string"), 5, "0"), lit(s":$l"))
    }
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), toks.as("w"))
      .withColumn("best", greatest(encoded: _*))
      .select(col("doc_id"), col("lang"),
              substring(col("best"), 7, 2).as("predicted_lang"),
              substring(col("best"), 1, 5).cast("int").as("best_score"))
      .withColumn("correct", (col("predicted_lang") === col("lang")).cast("int"))
      .orderBy("doc_id")
  }

  val langIdOracle: String = """
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
best AS (
  SELECT doc_id, lang, greatest(
    lpad(len(list_filter(w, x -> list_contains(['der','die','das','und','zu','in','ein'], x)))::varchar, 5, '0') || ':de',
    lpad(len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], x)))::varchar, 5, '0') || ':en',
    lpad(len(list_filter(w, x -> list_contains(['el','la','de','y','que','en','un'], x)))::varchar, 5, '0') || ':es',
    lpad(len(list_filter(w, x -> list_contains(['le','la','de','et','que','en','un'], x)))::varchar, 5, '0') || ':fr',
    lpad(len(list_filter(w, x -> list_contains(['的','了','是','在','我','有','和'], x)))::varchar, 5, '0') || ':zh'
  ) AS b
  FROM t
)
SELECT doc_id, lang,
       substr(b, 7, 2) AS predicted_lang,
       cast(substr(b, 1, 5) AS int) AS best_score,
       CASE WHEN substr(b, 7, 2) = lang THEN 1 ELSE 0 END AS correct
FROM best ORDER BY doc_id
"""

  /** Dual tokenization: whitespace count vs BPE-ish regex token count. */
  def tokenCounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("n_ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).as("n_re_tokens"),
        length(col("text")).as("n_chars_computed"),
        col("n_chars"))
      .orderBy("doc_id")

  val tokenCountsOracle: String = """
SELECT doc_id,
  len(string_split(text, ' ')) AS n_ws_tokens,
  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_re_tokens,
  length(text) AS n_chars_computed,
  n_chars
FROM documents ORDER BY doc_id
"""

  /** Document fingerprint: minimum md5 over all 8-char rolling shingles
    * (a deterministic min-hash — stable under content shifts), plus the
    * distinct-shingle count.
    */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        transform(
          sequence(lit(1), greatest(length(col("text")) - 7, lit(1))),
          (i: Column) => md5(col("text").substr(i, lit(8)))).as("shingles"))
      .select(col("doc_id"),
        array_min(col("shingles")).as("fp"),
        size(array_distinct(col("shingles"))).as("n_shingles"))
      .orderBy("doc_id")

  val fingerprintOracle: String = """
SELECT doc_id, min(md5(substr(text, i, 8))) AS fp,
       count(DISTINCT md5(substr(text, i, 8))) AS n_shingles
FROM documents, unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS u(i)
GROUP BY doc_id ORDER BY doc_id
"""

  /** Intra-document repetition scoring (the Gopher-style repetition
    * filters): per document, total/distinct bigram counts and the
    * dominant bigram with its frequency — a corpus-cleaning signal for
    * boilerplate / degenerate generation (a doc whose top bigram covers
    * a large fraction of it is template or spam). All-integer outputs;
    * dominance ratio left to the consumer (int ratios are exact, float
    * fractions are not hash-comparable).
    *
    * One explode + one two-level aggregation; the per-doc argmax is
    * `min(struct(-count, bigram))` — a single aggregate whose struct
    * ordering IS the (count desc, bigram asc) total order, so the
    * winner is deterministic without a second window pass.
    * Embarrassingly parallel at any scale — state is one
    * (doc, bigram) count shuffle.
    */
  def repetition(spark: SparkSession, sfDir: String): DataFrame = {
    val w = split(col("text"), " ")
    // zip_with over (w, w shifted by one): single traversal, no
    // per-element indexed lookups.
    val bigrams = expr(
      "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1)," +
        " (x, y) -> concat(x, ' ', y))")
    val perBg = Tables.documents(spark, sfDir)
      .select(col("doc_id"), w.as("w"))
      .where(size(col("w")) >= 2)
      .select(col("doc_id"), explode(bigrams).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
    perBg.groupBy("doc_id")
      .agg(sum(col("c")).as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"),
        min(struct((-col("c")).as("negc"), col("bg"))).as("_top"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct_bigrams"),
        (-col("_top.negc")).as("top_count"), col("_top.bg").as("top_bigram"))
      .orderBy("doc_id")
  }

  /** TF-IDF ranked retrieval: top-3 documents per vocabulary term by
    * `tf × idf`, with idf in INTEGER fixed point
    * (`(10⁶ · N) div df` — the same no-floats discipline as PageRank,
    * since float idf defeats a cross-engine hash gate). One explode →
    * (term, doc) counts; document frequency aggregates over the vocab
    * table (tiny — vocabulary-sized, not corpus-sized); ranking is a
    * per-term row_number window OVER THE VOCAB-JOINED tf table, so all
    * heavy work rides one (term, doc) shuffle. N (corpus size) is one
    * driver scalar — same single-aggregate pattern as khop's seed; a
    * scan-free literal, not a data loop.
    *
    * At 100 TB: tf table ∝ corpus tokens (the unavoidable inverted
    * index build), df table ∝ vocabulary (broadcast side of the join),
    * top-k per term is the standard rank-window — no quadratic
    * anywhere.
    *
    * TopKPerKey adoption audit (r7 #5): KEEP the window. Keys here are
    * vocabulary terms — tens of thousands and growing with corpus —
    * which is the high-cardinality regime where SCALE.md "TopKPerKey
    * vs the window idiom" measured the window's pruned sort tying or beating the bounded
    * heap (the heap's per-task key map approaches the partition size).
    */
  def tfidfTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val n = docs.count()
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("term").orderBy(col("score").desc, col("doc_id"))
    tf.join(broadcast(df), "term")
      .withColumn("score",
        col("tf") * expr(s"(${1000000L * n} div df)"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("term"), col("doc_id"), col("tf"), col("df"), col("score"))
      .orderBy(col("term"), col("score").desc, col("doc_id"))
  }

  val tfidfTopkOracle: String = """
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT term, doc_id, count(*) AS tf FROM t GROUP BY 1, 2),
dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT f.term, f.doc_id, f.tf, d.df,
         f.tf * ((1000000 * (SELECT n FROM n)) // d.df) AS score
  FROM tf f JOIN dfx d ON d.term = f.term),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY term
                               ORDER BY score DESC, doc_id) AS rn
  FROM scored)
SELECT term, doc_id, tf, df, cast(score AS bigint) AS score
FROM ranked WHERE rn <= 3
ORDER BY term, score DESC, doc_id
"""

  /** BM25 ranked retrieval — TF-IDF's production successor: term
    * saturation (k1) and document-length normalization (b), the two
    * things that make long spammy documents stop winning. Entirely
    * integer fixed-point so the gate is exact: with k1 = 6/5, b = 3/4
    * the denominator clears to integers when cross-multiplied by
    * 20·Σdl, giving
    *   score = idf_fp · 44·tf·Σdl div (20·Σdl·tf + 6·Σdl + 18·dl·N)
    * with the same rational idf surrogate text_tfidf_topk uses (no ln:
    * libm rounding differs across engines; the surrogate preserves the
    * df-monotonicity that drives ranking). The numerator grows with
    * N·Σdl, so it is computed in decimal(38,0) (hugeint in the oracle —
    * identical integer semantics both sides); int64 would overflow on a
    * corpus only ~100× the graded one. The quotient is back under 10¹²,
    * emitted as bigint.
    * N and Σdl are two scalars fetched in ONE agg action at plan-build
    * time (the tfidf precedent) — broadcastable literals, not a join.
    */
  def bm25Topk(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val consts = docs
      .agg(count(lit(1)).as("n"),
           sum(size(split(col("text"), " ")).cast("bigint")).as("s"))
      .first()
    val n = consts.getLong(0)
    val sumDl = consts.getLong(1)
    val dl = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("bigint").as("dl"))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("term").orderBy(col("score").desc, col("doc_id"))
    tf.join(broadcast(df), "term").join(dl, "doc_id")
      .withColumn("idf_fp",
        expr(s"(1000000 * (2 * $n - 2 * df + 1)) div (2 * df + 1)"))
      .withColumn("score",
        expr(s"(cast(idf_fp AS decimal(38,0)) * 44 * tf * $sumDl) div " +
             s"(20 * $sumDl * tf + 6 * $sumDl + 18 * dl * $n)"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("term"), col("doc_id"), col("tf"), col("df"), col("dl"),
              col("score"))
      .orderBy(col("term"), col("score").desc, col("doc_id"))
  }

  val bm25TopkOracle: String = """
WITH dl AS (
  SELECT doc_id, cast(len(string_split(text, ' ')) AS bigint) AS dl
  FROM documents),
t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT term, doc_id, count(*) AS tf FROM t GROUP BY 1, 2),
dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
consts AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT sum(dl) FROM dl) AS sdl),
scored AS (
  SELECT f.term, f.doc_id, f.tf, d.df, l.dl,
         cast((1000000 * (2 * c.n - 2 * d.df + 1)) // (2 * d.df + 1)
              AS hugeint)
           * 44 * f.tf * c.sdl //
           (20 * c.sdl * f.tf + 6 * c.sdl + 18 * l.dl * c.n) AS score
  FROM tf f
  JOIN dfx d ON d.term = f.term
  JOIN dl l ON l.doc_id = f.doc_id
  CROSS JOIN consts c),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY term
                               ORDER BY score DESC, doc_id) AS rn
  FROM scored)
SELECT term, doc_id, tf, df, dl, cast(score AS bigint) AS score
FROM ranked WHERE rn <= 3
ORDER BY term, score DESC, doc_id
"""

  /** Bigram language-model TRAINING: corpus-wide conditional
    * continuation probabilities P(w₂|w₁) = count(w₁w₂)/count(w₁·) in
    * integer fixed-point micros, top-3 continuations per head word —
    * the n-gram LM estimation step (and the bigram half of a
    * perplexity filter). Two hash aggregations + one broadcast join;
    * everything map-side-combinable — the head-word count table is
    * the vocabulary, which is always broadcastable.
    */
  def bigramLm(spark: SparkSession, sfDir: String): DataFrame = {
    val w = split(col("text"), " ")
    val bigrams = expr(
      "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1)," +
        " (x, y) -> struct(x AS w1, y AS w2))")
    val pairCounts = Tables.documents(spark, sfDir)
      .select(w.as("w")).where(size(col("w")) >= 2)
      .select(explode(bigrams).as("b"))
      .select(col("b.w1"), col("b.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val headCounts = pairCounts.groupBy("w1")
      .agg(sum(col("c12")).as("c1"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("w1").orderBy(col("p_micros").desc, col("w2"))
    pairCounts.join(broadcast(headCounts), "w1")
      .withColumn("p_micros", expr("(1000000 * c12) div c1"))
      .withColumn("rank", row_number().over(rankW).cast("bigint"))
      .where(col("rank") <= 3)
      .select(col("w1"), col("rank"), col("w2"), col("c12"), col("c1"),
              col("p_micros"))
      .orderBy("w1", "rank")
  }

  val bigramLmOracle: String = """
WITH t AS (
  SELECT string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
bg AS (
  SELECT unnest([ {'w1': w[i], 'w2': w[i+1]} for i in range(1, len(w)) ])
    AS b
  FROM t
),
pc AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
hc AS (SELECT w1, sum(c12) AS c1 FROM pc GROUP BY w1),
scored AS (
  SELECT pc.w1, pc.w2, pc.c12, cast(hc.c1 AS bigint) AS c1,
         (1000000 * pc.c12) // hc.c1 AS p_micros
  FROM pc JOIN hc ON hc.w1 = pc.w1
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY w1
                               ORDER BY p_micros DESC, w2) AS rank
  FROM scored
)
SELECT w1, cast(rank AS bigint) AS rank, w2, c12, c1,
       cast(p_micros AS bigint) AS p_micros
FROM ranked WHERE rank <= 3 ORDER BY w1, rank
"""

  /** LM-based quality scoring — the perplexity-filter shape: each
    * document scored by its bigrams' corpus-wide continuation
    * probabilities (mean and min, fixed-point micros); documents whose
    * transitions are uniformly improbable read as disfluent/garbled
    * and get keep=0. True perplexity needs log-probs — `ln` is not
    * cross-engine exact, and the mean/min of the probabilities
    * themselves carries the same ranking signal for filtering. The LM
    * tables (pair + head counts) are the trained model from
    * text_bigram_lm, broadcast — at 100 TB the model is trained once
    * and reused, exactly as here.
    */
  def lmQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val w = split(col("text"), " ")
    val bigrams = expr(
      "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1)," +
        " (x, y) -> struct(x AS w1, y AS w2))")
    val docBg = Tables.documents(spark, sfDir)
      .select(col("doc_id"), w.as("w")).where(size(col("w")) >= 2)
      .select(col("doc_id"), explode(bigrams).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    val pairCounts = docBg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val headCounts = pairCounts.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val model = pairCounts.join(headCounts, "w1")
      .select(col("w1"), col("w2"),
              expr("(1000000 * c12) div c1").as("p_micros"))
    docBg.join(broadcast(model), Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
           expr("sum(p_micros) div count(1)").as("mean_p_micros"),
           min(col("p_micros")).as("min_p_micros"))
      .withColumn("keep",
        (col("mean_p_micros") >= 34500).cast("int"))
      .orderBy("doc_id")
  }

  val lmQualityOracle: String = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
bg AS (
  SELECT doc_id,
         unnest([ {'w1': w[i], 'w2': w[i+1]} for i in range(1, len(w)) ])
           AS b
  FROM t
),
d AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
pc AS (SELECT w1, w2, count(*) AS c12 FROM d GROUP BY 1, 2),
hc AS (SELECT w1, sum(c12) AS c1 FROM pc GROUP BY w1),
model AS (
  SELECT pc.w1, pc.w2, (1000000 * pc.c12) // hc.c1 AS p_micros
  FROM pc JOIN hc ON hc.w1 = pc.w1
)
SELECT d.doc_id, count(*) AS n_bigrams,
       cast(sum(m.p_micros) // count(*) AS bigint) AS mean_p_micros,
       cast(min(m.p_micros) AS bigint) AS min_p_micros,
       cast(CASE WHEN sum(m.p_micros) // count(*) >= 34500
                 THEN 1 ELSE 0 END AS int) AS keep
FROM d JOIN model m ON m.w1 = d.w1 AND m.w2 = d.w2
GROUP BY d.doc_id ORDER BY doc_id
"""

  /** text_zipf: corpus rank-frequency table — the Zipf audit every
    * corpus health check runs (a natural corpus has rank·freq roughly
    * constant; a bot-flooded or templated one doesn't). Top 30 terms by
    * (count desc, word asc — fully deterministic), with the rank, the
    * rank·freq product, and the corpus share in fixed-point ppm via
    * integer division.
    *
    * Scale: explode → one map-side-combinable count per term → global
    * top-30 via TakeOrderedAndProject (no full sort). The grand total
    * is ONE scalar agg action over the term table (the bm25Topk
    * broadcast-scalar pattern) folded into the plan as a literal —
    * cheaper than a vocab-wide single-partition window, and the token
    * count it re-derives is O(vocab), not O(corpus).
    */
  /** text_hapax: per-source vocabulary richness — token volume,
    * distinct vocabulary, hapax legomena (words occurring exactly once
    * within the source), and the hapax share of the vocabulary in
    * integer ppm. The hapax fraction is the working end of Heaps'/
    * Zipf's law for corpus curation: scraped-boilerplate sources sit
    * LOW (the same strings recur), OCR-noise and genuinely diverse
    * sources sit high — so the ratio ranks sources for cleaning before
    * any model sees them (text_zipf profiles the head of the same
    * distribution; this grades its tail).
    *
    * Scale: one explode to (source, word) counts — map-side
    * combinable, the same cost class as every tokenizer pass — then a
    * per-source rollup of the count table, which is bounded by
    * vocabulary, not corpus size. Output rows = |sources|.
    */
  def hapax(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("freq"))
      .groupBy("source")
      .agg(sum(col("freq")).as("n_tokens"),
           count(lit(1)).as("vocab"),
           sum(when(col("freq") === 1L, 1L).otherwise(0L)).as("hapax"))
      .select(col("source"), col("n_tokens"), col("vocab"), col("hapax"),
        expr("(hapax * 1000000) div vocab").as("hapax_ppm"))
      .orderBy("source")
  }

  val hapaxOracle: String = """
WITH t AS (
  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
),
c AS (SELECT source, word, count(*) AS freq FROM t GROUP BY 1, 2)
SELECT source, CAST(sum(freq) AS BIGINT) AS n_tokens,
       count(*) AS vocab,
       CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       CAST((sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) * 1000000)
            // count(*) AS BIGINT) AS hapax_ppm
FROM c GROUP BY source ORDER BY source
"""

  def zipf(spark: SparkSession, sfDir: String): DataFrame = {
    val terms = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val total = terms.agg(sum(col("freq"))).head.getLong(0)
    terms.orderBy(col("freq").desc, col("word")).limit(30)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("freq").desc, col("word"))))
      .select(col("rank"), col("word"), col("freq"),
        (col("rank") * col("freq")).as("rank_x_freq"),
        expr(s"(freq * 1000000) div ${total}L").as("share_ppm"))
      .orderBy("rank")
  }

  val zipfOracle: String = """
WITH t AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
),
c AS (SELECT word, count(*) AS freq FROM t GROUP BY word),
tot AS (SELECT sum(freq) AS total FROM c),
r AS (
  SELECT word, freq,
         row_number() OVER (ORDER BY freq DESC, word) AS rank
  FROM c
)
SELECT rank, word, freq, rank * freq AS rank_x_freq,
       cast((freq * 1000000) // (SELECT total FROM tot) AS bigint)
         AS share_ppm
FROM r WHERE rank <= 30 ORDER BY rank
"""

  /** text_char_gini: per-document character-distribution Gini impurity
    * `1 − Σ pᵢ²` in fixed-point ppm — a diversity/quality signal (low
    * impurity ⇒ the doc is dominated by few characters: padding,
    * repeated filler, binary-ish junk) with the same filtering role as
    * Shannon entropy but RATIONAL arithmetic: `Σ cᵢ²·10⁶ / L²` needs
    * only integer multiply and one integer division, so the graded
    * value is bit-exact cross-engine — entropy's `log` is libm
    * territory, where the last-ulp rounding differs between engines
    * (the SCALE.md no-`ln`-in-graded-output rule).
    *
    * Scale: one explode to characters (narrow), one (doc, char) count,
    * one per-doc sum — all map-side-combinable; the char explode is
    * O(corpus bytes), the same cost class as any tokenizer pass.
    * Overflow: cᵢ ≤ L ≤ 2³¹ chars/doc keeps cᵢ²·10⁶ in decimal(38)
    * comfortably; int64 alone holds to L ≈ 3M chars/doc, so the
    * decimal cast is the generic-corpus belt-and-braces.
    */
  def charGini(spark: SparkSession, sfDir: String): DataFrame = {
    val chars = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(split(col("text"), "")).as("ch"))
    chars.groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("len"),
           count(lit(1)).as("n_distinct_chars"),
           sum(col("c").cast("decimal(19,0)") * col("c"))
             .cast("decimal(38,0)").as("ss"))
      .select(col("doc_id"), col("len"), col("n_distinct_chars"),
        expr("cast(1000000 - (ss * 1000000) div " +
             "(cast(len AS decimal(19,0)) * len) AS bigint)")
          .as("gini_ppm"))
      .orderBy("doc_id")
  }

  val charGiniOracle: String = """
WITH ch AS (
  SELECT doc_id,
         unnest([substr(text, i, 1) for i in range(1, length(text) + 1)])
           AS ch
  FROM documents
),
c AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS len,
       count(*) AS n_distinct_chars,
       cast(1000000 - (sum(c::hugeint * c) * 1000000)
            // (sum(c)::hugeint * sum(c)) AS bigint) AS gini_ppm
FROM c GROUP BY doc_id ORDER BY doc_id
"""

  /** text_source_drift: per-source vocabulary drift — the chi-square
    * distance of each source's word distribution from the corpus
    * distribution over the global top-50 vocabulary, the data-drift
    * monitor a mixed-corpus pipeline runs per ingest batch ("did this
    * source's language shift?"). Distributions are first quantized to
    * integer ppm (`c·10⁶ div total`), then the statistic
    * `Σ (p−q)² div q` is computed on the ppm values — so every graded
    * number is bounded by construction (ppm ≤ 10⁶) and the arithmetic
    * never leaves int64 at ANY corpus size, the headroom-by-design
    * alternative to decimal widening.
    *
    * Scale: one explode+count for corpus vocab (top-50 =
    * TakeOrderedAndProject), one (source, word) count filtered to the
    * 50-word vocab (the join broadcast-sizes itself), and the
    * source × vocab completion is a ≤|sources|·50-row cross of two tiny
    * aggregates — the windows ride on that completion table, never on
    * the corpus.
    */
  def sourceDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val terms = Tables.documents(spark, sfDir)
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
    val vocab = terms.groupBy("word").agg(count(lit(1)).as("cw"))
      .orderBy(col("cw").desc, col("word")).limit(50)
    val cells = terms.join(vocab.select("word"), "word")
      .groupBy("source", "word").agg(count(lit(1)).as("csw"))
    val sources = Tables.documents(spark, sfDir)
      .select("source").distinct()
    val full = sources.crossJoin(vocab)
      .join(cells, Seq("source", "word"), "left")
      .na.fill(0L, Seq("csw"))
    full
      .withColumn("ts", sum(col("csw")).over(Window.partitionBy("source")))
      .withColumn("t", sum(col("cw")).over(Window.partitionBy("source")))
      .withColumn("p_ppm", expr("(csw * 1000000) div ts"))
      .withColumn("q_ppm", expr("(cw * 1000000) div t"))
      .groupBy("source")
      .agg(max(col("ts")).as("vocab_tokens"),
           sum(expr("((p_ppm - q_ppm) * (p_ppm - q_ppm)) div q_ppm"))
             .as("drift_score"))
      .orderBy("source")
  }

  val sourceDriftOracle: String = """
WITH terms AS (
  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
),
vocab AS (
  SELECT word, count(*) AS cw FROM terms GROUP BY word
  ORDER BY cw DESC, word LIMIT 50
),
cells AS (
  SELECT t.source, t.word, count(*) AS csw
  FROM terms t JOIN vocab v ON v.word = t.word
  GROUP BY t.source, t.word
),
full_grid AS (
  SELECT s.source, v.word, v.cw, coalesce(c.csw, 0) AS csw
  FROM (SELECT DISTINCT source FROM documents) s
  CROSS JOIN vocab v
  LEFT JOIN cells c ON c.source = s.source AND c.word = v.word
),
ppm AS (
  SELECT source, csw, cw,
         sum(csw) OVER (PARTITION BY source) AS ts,
         sum(cw) OVER (PARTITION BY source) AS t
  FROM full_grid
)
SELECT source, CAST(max(ts) AS BIGINT) AS vocab_tokens,
       CAST(sum((((csw * 1000000) // ts - (cw * 1000000) // t)
            * ((csw * 1000000) // ts - (cw * 1000000) // t))
           // ((cw * 1000000) // t)) AS BIGINT) AS drift_score
FROM ppm GROUP BY source ORDER BY source
"""

  /** text_novelty: per-source trigram novelty — what fraction of each
    * source's word-3-gram mass appears there FIRST (by ascending
    * doc_id, the corpus ingestion order)? The curation signal behind
    * "is this source adding new content or re-serving what we already
    * have" — low novelty flags mirror/scrape sources before any
    * pairwise dedup runs. A gram's first occurrence is its corpus-wide
    * `min(doc_id)`; each doc contributes its DISTINCT grams (the
    * [[graft.functions.TrigramHashes]] expression — the oracle builds
    * the same grams as strings, see ngram_jaccard's collision note).
    * novelty_ppm is integer-division exact.
    *
    * Scale: one explode + one (gram → min doc) aggregation + one
    * equi-join back on gram — the inverted-index shape every corpus
    * statistic here uses; no pairwise anything. The min-doc table is
    * the same asset an incremental-ingest dedup keeps as state.
    */
  def novelty(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val inv = docs
      .select(col("doc_id"), col("source"),
        explode(graft.functions.TrigramHashes(split(col("text"), " "))).as("g"))
    val first = inv.groupBy("g").agg(min(col("doc_id")).as("fdoc"))
    inv.join(first, "g")
      .groupBy("source")
      .agg(count(lit(1)).as("total_grams"),
           sum(when(col("doc_id") === col("fdoc"), 1L).otherwise(0L))
             .as("novel_grams"))
      .select(col("source"), col("total_grams"), col("novel_grams"),
        expr("(novel_grams * 1000000) div total_grams").as("novelty_ppm"))
      .orderBy("source")
  }

  val noveltyOracle: String = """
WITH w AS (
  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
),
grams AS (
  SELECT doc_id, source,
         CASE WHEN len(w) < 3 THEN []
              ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                  for i in range(1, len(w) - 1)])
         END AS grams
  FROM w
),
inv AS (
  SELECT doc_id, source, unnest(grams) AS g FROM grams
),
first AS (
  SELECT g, min(doc_id) AS fdoc FROM inv GROUP BY g
)
SELECT source, count(*) AS total_grams,
       CAST(sum(CASE WHEN doc_id = fdoc THEN 1 ELSE 0 END) AS BIGINT)
         AS novel_grams,
       CAST((sum(CASE WHEN doc_id = fdoc THEN 1 ELSE 0 END) * 1000000)
         // count(*) AS BIGINT) AS novelty_ppm
FROM inv JOIN first USING (g)
GROUP BY source ORDER BY source
"""

  /** text_boilerplate: cross-document boilerplate fraction — for every
    * word 5-gram occurrence, is that 5-gram shared by ≥3 DISTINCT
    * documents? Repeated spans across documents are navigation chrome /
    * license headers / templated text, and their per-doc fraction is a
    * standard CURATION SIGNAL (high-boilerplate docs get down-weighted
    * or span-stripped before training). Complements the corpus's other
    * repetition lenses: [[repetition]] is WITHIN-doc, [[novelty]] is
    * per-source first-seen, `pipe_decontaminate` is train-vs-eval —
    * this one is corpus-internal cross-doc at span granularity.
    *
    * Per doc: total 5-gram occurrences, occurrences whose gram has
    * document frequency ≥ 3, and the boilerplate fraction in ppm
    * (integer `div` — exact on both engines).
    *
    * Scale: the inverted-index shape shared with [[tfidfTopk]] — one
    * explode O(total words), a distinct + count for the gram DF, and
    * one hash join back on the gram key. No pairwise comparisons
    * anywhere; the DF table is the only shuffled state and it shrinks
    * with `distinct` before aggregation.
    */
  def boilerplate(spark: SparkSession, sfDir: String): DataFrame = {
    val w = split(col("text"), " ")
    val grams5 = expr(
      "transform(sequence(1, size(w) - 4), i -> concat_ws(' ', slice(w, i, 5)))")
    val occ = Tables.documents(spark, sfDir)
      .select(col("doc_id"), w.as("w"))
      .where(size(col("w")) >= 5)
      .select(col("doc_id"), explode(grams5).as("g"))
    // Join the occurrences against ONLY the grams that matter (df ≥ 3)
    // instead of the full gram-frequency table: boilerplate grams are a
    // small minority of distinct grams, so the join's build side shrinks
    // by ~the boilerplate rate and stays broadcastable far beyond where
    // the full DF table stops fitting (guide §3.2 — pre-filter the join
    // input; the big exploded side is never shuffled). A LEFT join
    // keeps every occurrence row, so n_grams = count(*) is unchanged
    // and n_boiler counts the matched rows — row-for-row identical to
    // the old inner-join + sum(when(df >= 3)) form.
    val boilerGrams = occ.distinct()
      .groupBy("g").agg(count(lit(1)).as("df"))
      .where(col("df") >= 3)
      .select(col("g"), lit(1L).as("hit"))
    occ.join(boilerGrams, Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
           count(col("hit")).as("n_boiler"))
      .select(col("doc_id"), col("n_grams"), col("n_boiler"),
        expr("(n_boiler * 1000000) div n_grams").as("boiler_ppm"))
      .orderBy("doc_id")
  }

  val boilerplateOracle: String = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 5),
occ AS (
  SELECT doc_id,
         unnest([ array_to_string(w[i:i+4], ' ') for i in range(1, len(w) - 3) ])
           AS g
  FROM t),
df AS (SELECT g, count(DISTINCT doc_id) AS df FROM occ GROUP BY g)
SELECT doc_id, count(*) AS n_grams,
       CAST(sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       CAST((sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) * 1000000) // count(*)
         AS BIGINT) AS boiler_ppm
FROM occ JOIN df USING (g)
GROUP BY doc_id ORDER BY doc_id
"""

  /** text_rake_keywords: RAKE keyword extraction — candidate phrases
    * are the maximal runs of non-stopword tokens (the stopwords
    * DELIMIT, they never score), each word accumulates
    * `deg += phrase length` and `freq += 1` over every phrase it
    * appears in, and the RAKE score is deg/freq — words that live in
    * long phrases beat words that appear alone. Phrase runs are the
    * gaps-and-islands identity applied at TOKEN level (`pos −
    * row_number()` over the non-stopword tokens per doc — the same
    * idiom as q58_islands at day level), so "phrase detection" is one
    * window, no UDF, no sequential scan. Scores stay integer
    * (`deg·10⁶ div freq`); top-20 with a full (score, deg, word)
    * tie-break.
    *
    * Scale: everything keys on doc_id until the final word rollup
    * (map-side combinable, vocabulary-bounded); the explode is the
    * corpus token count — the same linear pass every text query pays.
    */
  def rakeKeywords(spark: SparkSession, sfDir: String): DataFrame = {
    val sw = array(Stopwords("en").map(lit): _*)
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    val nonsw = toks.where(!array_contains(sw, col("w")))
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")))
      .withColumn("plen", count(lit(1)).over(
        Window.partitionBy("doc_id", "grp")))
    nonsw.groupBy("w")
      .agg(sum(col("plen")).as("deg"), count(lit(1)).as("freq"))
      .select(col("w").as("word"), col("deg"), col("freq"),
        expr("(deg * 1000000) div freq").as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("deg").desc, col("word"))
      .limit(20)
  }

  val rakeOracle: String = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
tok AS (
  SELECT doc_id, unnest(w) AS w, generate_subscripts(w, 1) AS pos FROM t
),
nonsw AS (
  SELECT doc_id, w, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM tok WHERE w NOT IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')
),
ph AS (
  SELECT doc_id, w, grp,
         count(*) OVER (PARTITION BY doc_id, grp) AS plen
  FROM nonsw
),
sc AS (
  SELECT w AS word, sum(plen) AS deg, count(*) AS freq FROM ph GROUP BY w
)
SELECT word, CAST(deg AS BIGINT) AS deg, freq,
       CAST((deg * 1000000) // freq AS BIGINT) AS score_ppm
FROM sc ORDER BY score_ppm DESC, deg DESC, word LIMIT 20
"""

  /** text_collocation_pmi: document-level collocation mining — word
    * pairs that co-occur in the same document far more than their
    * marginal frequencies predict. The PMI ratio is kept EXACT by
    * cross-multiplication (`N·c_ab·10⁶ div (c_a·c_b)` — the inside of
    * the log, in ppm; log is monotone so the RANKING is identical to
    * true PMI and no transcendental enters the gate). Document
    * frequencies, not token counts, so a word pair repeated inside one
    * doc counts once — the standard collocation convention.
    * Complements text_bigram_lm (adjacency) with unordered same-doc
    * association.
    *
    * Scale: the per-doc pair explode is quadratic in the DOC's
    * distinct-token count (bounded by doc length, never corpus size) —
    * same per-row bound as every shingle query; the pair rollup is
    * map-side combinable and vocabulary²-bounded.
    */
  def collocationPmi(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        array_sort(array_distinct(split(col("text"), " "))).as("ts"))
      .localCheckpoint() // marginals and pairs share the scan
    val n = docs.count()
    val marg = docs.select(explode(col("ts")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    // Core-spread ONLY the quadratic pair explode (r14, guide §2.5):
    // the documents parquet is one scan split, so this branch ran as
    // ONE task (probe: 8 stages × 1 task, 1.6 s single-core CPU/rep).
    // Spreading the whole checkpoint instead pushed 32 partitions into
    // every downstream stage (task CPU ×10 for tiny rows — the
    // geo_dbscan counter-finding); here the spread stops at the
    // groupBy's exchange, which AQE sizes by bytes. Scale-adaptive: at
    // volume the scan has many splits and the repartition is a no-op.
    val pairs = docs
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode(expr(
        "flatten(transform(ts, (a, i) -> transform(slice(ts, i + 2," +
        " size(ts)), b -> named_struct('a', a, 'b', b))))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("c_ab"))
    pairs
      .join(marg.toDF("a", "c_a"), "a")
      .join(marg.toDF("b", "c_b"), "b")
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
        expr(s"(${n}L * c_ab * 1000000) div (c_a * c_b)").as("pmi_ratio_ppm"))
      .orderBy(col("pmi_ratio_ppm").desc, col("c_ab").desc, col("a"),
        col("b"))
      .limit(20)
  }

  val collocationPmiOracle: String = """
WITH d AS (
  SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS ts
  FROM documents
),
n AS (SELECT count(*) AS n FROM d),
marg AS (
  SELECT w, count(*) AS c FROM (SELECT unnest(ts) AS w FROM d) GROUP BY 1
),
pairs AS (
  -- anchor indices derived from each doc's own length (ADVICE r5: a
  -- fixed range(1, 1000) cap would silently drop pairs for any doc
  -- with >= 1000 distinct tokens while the Spark side has no cap)
  SELECT a, b, count(*) AS c_ab FROM (
    SELECT ts[i] AS a, unnest(ts[i + 1 :]) AS b
    FROM (SELECT ts, unnest(range(1, len(ts))) AS i FROM d))
  GROUP BY 1, 2
)
SELECT p.a, p.b, p.c_ab,
       ma.c AS c_a, mb.c AS c_b,
       CAST(((SELECT n FROM n) * p.c_ab * 1000000) // (ma.c * mb.c)
            AS BIGINT) AS pmi_ratio_ppm
FROM pairs p JOIN marg ma ON ma.w = p.a JOIN marg mb ON mb.w = p.b
ORDER BY pmi_ratio_ppm DESC, c_ab DESC, a, b LIMIT 20
"""

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_collocation_pmi" -> (collocationPmi _),
    "text_rake_keywords" -> (rakeKeywords _),
    "text_hapax" -> (hapax _),
    "text_boilerplate" -> (boilerplate _),
    "text_novelty" -> (novelty _),
    "text_source_drift" -> (sourceDrift _),
    "text_char_gini" -> (charGini _),
    "text_zipf" -> (zipf _),
    "text_lm_quality" -> (lmQuality _),
    "text_bigram_lm" -> (bigramLm _),
    "text_bm25_topk" -> (bm25Topk _),
    "text_tfidf_topk" -> (tfidfTopk _),
    "text_repetition" -> (repetition _),
    "text_stats" -> (textStats _),
    "text_langid" -> (langId _),
    "text_token_counts" -> (tokenCounts _),
    "text_fingerprint" -> (fingerprint _),
  )

  // Same (count desc, bigram asc) winner, picked via a rank window —
  // method differs from the Spark min(struct) but the total order is
  // identical, so the values hash-match.
  val repetitionOracle: String = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 2),
bg AS (
  SELECT doc_id,
         unnest([ w[i] || ' ' || w[i+1] for i in range(1, len(w)) ]) AS bg
  FROM t),
cnt AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
ranked AS (
  SELECT doc_id, bg, c,
         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bg ASC) AS rn,
         cast(sum(c) OVER (PARTITION BY doc_id) AS bigint) AS n_bigrams,
         cast(count(*) OVER (PARTITION BY doc_id) AS bigint)
           AS n_distinct_bigrams
  FROM cnt)
SELECT doc_id, n_bigrams, n_distinct_bigrams, c AS top_count,
       bg AS top_bigram
FROM ranked WHERE rn = 1 ORDER BY doc_id
"""

  val oracles: Map[String, String] = Map(
    "text_collocation_pmi" -> collocationPmiOracle,
    "text_rake_keywords" -> rakeOracle,
    "text_hapax" -> hapaxOracle,
    "text_boilerplate" -> boilerplateOracle,
    "text_novelty" -> noveltyOracle,
    "text_source_drift" -> sourceDriftOracle,
    "text_char_gini" -> charGiniOracle,
    "text_zipf" -> zipfOracle,
    "text_tfidf_topk" -> tfidfTopkOracle,
    "text_bm25_topk" -> bm25TopkOracle,
    "text_bigram_lm" -> bigramLmOracle,
    "text_lm_quality" -> lmQualityOracle,
    "text_repetition" -> repetitionOracle,
    "text_stats" -> textStatsOracle,
    "text_langid" -> langIdOracle,
    "text_token_counts" -> tokenCountsOracle,
    "text_fingerprint" -> fingerprintOracle,
  )
}
