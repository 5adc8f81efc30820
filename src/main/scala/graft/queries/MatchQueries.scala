package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entity resolution / fuzzy matching — finding near-identical records
  * (typo'd IDs, OCR'd names) without an all-pairs comparison, the
  * record-linkage step every large-corpus curation pipeline runs.
  *
  * The candidate generator is the WILDCARD (deletion-neighborhood)
  * index: each name of length L expands into L variants, each with one
  * position masked; two equal-length names are at Hamming distance ≤ 1
  * iff they share a masked variant, and a Hamming-1 pair shares EXACTLY
  * one — so the equi-join on the variant string finds each true pair
  * exactly once, with no post-dedup. Block sizes are bounded by the
  * alphabet (≤ |Σ| names agree on all-but-one position), so no block
  * ever goes quadratic — unlike half-string blocking, which degenerates
  * to one all-pairs block on corpora with a shared prefix (every
  * c_name starts "Customer#"). That bounded-block property is what
  * makes this the 100 TB shape: cost is L× the input in variant rows,
  * then a uniform equi-join.
  *
  * Edit distance 1 with insert/delete (variable-length names) uses the
  * same index built on per-position DELETIONS instead of masks; the
  * testdata names are fixed-length, so the graded query pins the
  * substitution case and the oracle cross-checks with true
  * `levenshtein` (equal-length ⇒ lev ≤ 1 ⇔ Hamming ≤ 1).
  */
object MatchQueries {

  /** All pairs of distinct customer names at edit distance exactly 1.
    * One narrow L× expansion, one equi-join on the masked variant, a
    * codegen'd `levenshtein` verify (defense in depth — the index is
    * already exact for equal-length inputs).
    */
  def fuzzyPairs(spark: SparkSession, sfDir: String): DataFrame =
    fuzzyPairsOf(Tables.customer(spark, sfDir)
      .select(col("c_name").as("name")).distinct())

  /** The wildcard-index join itself, over any single-column `name`
    * DataFrame of distinct names (tested against brute force on random
    * strings in MatchQueriesSpec).
    */
  private[queries] def fuzzyPairsOf(names: DataFrame): DataFrame = {
    // Join on xxhash64 of the masked variant, not the variant string:
    // 8-byte shuffle keys instead of ~L-char strings (the same win the
    // ngram pipeline measured with TrigramHashes). A hash collision can
    // only ADD a candidate pair, and the levenshtein verify removes it
    // — correctness does not depend on collision-freeness.
    //
    // Spread the name table over the cluster's cores first: the
    // distinct upstream AQE-coalesces to one ~1 MB partition — right
    // for its bytes, wrong for the L× variant expansion, hash join and
    // banded-levenshtein verify that explode out of it (measured at
    // sf0.1: the whole query ran in single tasks — probe tasks=5,
    // 3.0 s of single-threaded CPU). defaultParallelism follows the
    // cluster, not a local constant (guide §2.5).
    val spread = names.repartition(
      names.sparkSession.sparkContext.defaultParallelism)
    val variants = spread.select(col("name"), explode(expr(
      "transform(sequence(1, length(name)), i -> " +
        "xxhash64(concat(substring(name, 1, i - 1), '_', " +
        "substring(name, i + 1, length(name)), '#', length(name))))"))
      .as("blk"))
    variants.as("x").join(variants.as("y"),
        col("x.blk") === col("y.blk") && col("x.name") < col("y.name"))
      .select(col("x.name").as("name_a"), col("y.name").as("name_b"))
      // Thresholded levenshtein: banded O(L·t) instead of the full
      // O(L²) DP — the verify runs on EVERY join candidate (~10 per
      // variant row on digit-suffixed names), so it dominates the
      // query. levenshtein(a,b,1) returns 1 iff the distance is
      // exactly 1 (0 -> 0, >1 -> -1): the kept set is identical.
      .where(levenshtein(col("name_a"), col("name_b"), 1) === 1)
      // With string keys a Hamming-1 pair matches on exactly one
      // variant; hashed keys make a double-match possible (two mask
      // positions colliding), so pin distinctness explicitly.
      .dropDuplicates("name_a", "name_b")
      .orderBy("name_a", "name_b")
  }

  /** Brute-force oracle: every pair, true edit distance. Feasible at
    * the gate's sf; the Spark side must agree exactly.
    */
  val fuzzyPairsOracle: String = """
WITH n AS (SELECT DISTINCT c_name AS name FROM customer)
SELECT a.name AS name_a, b.name AS name_b
FROM n a JOIN n b
  ON len(a.name) = len(b.name) AND a.name < b.name
WHERE levenshtein(a.name, b.name) = 1
ORDER BY name_a, name_b
"""

  /** Edit-distance-1 with INSERT/DELETE (variable-length names, over
    * part names): the deletion-neighborhood index. Blocking keys =
    * {name} ∪ {name minus one character}; two names at Levenshtein 1
    * always share a key (substitution: both delete the differing
    * position; indel: the shorter IS a deletion of the longer), so the
    * equi-join is a complete candidate generator — (L+1)× expansion,
    * uniform blocks, no all-pairs. The `levenshtein` verify makes hash
    * collisions and distance-2 false candidates (two names sharing an
    * unrelated deletion) harmless.
    */
  def fuzzyIndelPairs(spark: SparkSession, sfDir: String): DataFrame = {
    // Same core-spread as [[fuzzyPairsOf]]: the deletion-neighborhood
    // expansion and verify are CPU-bound row explosions over a
    // byte-tiny distinct input.
    val names = Tables.part(spark, sfDir)
      .select(col("p_name").as("name")).distinct()
      .repartition(spark.sparkContext.defaultParallelism)
    val variants = names.select(col("name"), explode(array_distinct(expr(
      "transform(sequence(0, length(name)), j -> xxhash64(" +
        "CASE WHEN j = 0 THEN name " +
        "ELSE concat(substring(name, 1, j - 1), " +
        "substring(name, j + 1, length(name))) END))"))).as("blk"))
    variants.as("x").join(variants.as("y"),
        col("x.blk") === col("y.blk") && col("x.name") < col("y.name"))
      .select(col("x.name").as("name_a"), col("y.name").as("name_b"))
      .dropDuplicates("name_a", "name_b")
      .where(levenshtein(col("name_a"), col("name_b"), 1) === 1)
      .orderBy("name_a", "name_b")
  }

  val fuzzyIndelOracle: String = """
WITH n AS (SELECT DISTINCT p_name AS name FROM part)
SELECT a.name AS name_a, b.name AS name_b
FROM n a JOIN n b
  ON a.name < b.name AND abs(length(a.name) - length(b.name)) <= 1
WHERE levenshtein(a.name, b.name) = 1
ORDER BY name_a, name_b
"""

  /** er_entity_clusters: the resolution step AFTER matching — the
    * edit-distance-1 match pairs ([[fuzzyIndelPairs]]' deletion
    * neighborhood, which is complete for Levenshtein ≤ 1: substitutions
    * share a deletion position, indels share the shorter string)
    * become edges of an identity graph over
    * distinct part names, and the same alternating-star CC engine that
    * clusters documents (reference ConnectedComponent.scala:42-279)
    * collapses them into entities. This is the full record-linkage
    * pipeline shape on one engine: candidate generation → verify →
    * transitive closure → canonicalization (canonical = lexicographic
    * min of the cluster). Emitted as the entity-SIZE histogram with a
    * content pin: per size, the entity count and the sum of the
    * canonicals' md5-derived hashes (mod 10⁹ so the sum stays in int64
    * at any corpus size) — so the gate verifies not just how much
    * merged but exactly WHICH names became canonicals.
    *
    * Part names, not customer names: zero-padded sequential ids form a
    * fully-connected digit-substitution lattice (measured: every
    * customer name collapses into ONE entity — a true but useless
    * closure); the multi-word part vocabulary merges sparsely, which is
    * the regime entity resolution exists for.
    *
    * Node ids are xxhash64(name) — CC runs on 8-byte keys, names join
    * back once at the end (the TrigramHashes key discipline; a 64-bit
    * collision across distinct names is ~10⁻¹¹ at millions of names
    * and would only over-merge, never crash). Self-pairs make
    * singleton entities visible, same contract as the dedup clusters
    * (reference `:193-197`).
    *
    * Scale: pair generation is the bounded wildcard/deletion index
    * above; CC is [[graft.cc.ConnectedComponents.runAuto]] — driver
    * union-find under 4M edges, the distributed alternating fixpoint
    * past it; the histogram is two aggs on the component key.
    */
  def entityClusters(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.cc.ConnectedComponents
    val names = Tables.part(spark, sfDir)
      .select(col("p_name").as("name")).distinct()
    val ids = names.select(col("name"), xxhash64(col("name")).as("id"))
    val pairs = fuzzyIndelPairs(spark, sfDir)
    val edges = pairs
      .join(ids.select(col("name").as("name_a"), col("id").as("src")), "name_a")
      .join(ids.select(col("name").as("name_b"), col("id").as("dst")), "name_b")
      .select("src", "dst")
    val selfPairs = ids.select(col("id").as("src"), col("id").as("dst"))
    val res = ConnectedComponents.runAuto(edges.union(selfPairs),
      maxIterations = 20)
    require(res.converged, "entity CC did not converge")
    val h9 = conv(substring(md5(col("canonical")), 1, 14), 16, 10)
      .cast("bigint") % 1000000000L
    ids.join(res.assignments.toDF("id", "comp"), "id")
      .groupBy("comp")
      .agg(min(col("name")).as("canonical"), count(lit(1)).as("n_members"))
      .groupBy("n_members")
      .agg(count(lit(1)).as("n_entities"), sum(h9).as("canon_hashsum"))
      .orderBy("n_members")
  }

  /** Min-label transitive closure in SQL: comp labels walk down to the
    * lexicographic minimum reachable name, which IS the canonical.
    */
  val entityClustersOracle: String = """
WITH RECURSIVE n AS (SELECT DISTINCT p_name AS name FROM part),
p AS (
  SELECT a.name AS na, b.name AS nb
  FROM n a JOIN n b
    ON abs(len(a.name) - len(b.name)) <= 1 AND a.name < b.name
  WHERE levenshtein(a.name, b.name) = 1
),
e AS (SELECT na AS x, nb AS y FROM p UNION SELECT nb, na FROM p),
walk(name, comp) AS (
  SELECT name, name FROM n
  UNION
  SELECT e.x, w.comp FROM e JOIN walk w ON w.name = e.y AND w.comp < e.x
),
lab AS (SELECT name, min(comp) AS comp FROM walk GROUP BY name),
ent AS (
  SELECT comp, min(name) AS canonical, count(*) AS n_members
  FROM lab GROUP BY comp
)
SELECT n_members, count(*) AS n_entities,
       CAST(sum(cast('0x' || substr(md5(canonical), 1, 14) AS bigint)
           % 1000000000) AS BIGINT) AS canon_hashsum
FROM ent GROUP BY n_members ORDER BY n_members
"""

  /** er_golden: SURVIVORSHIP — the merge step after transitive closure
    * turns match pairs into entities: each multi-name entity must emit
    * ONE golden record, chosen by a deterministic business rule. Here
    * the rule is "highest retail price wins, ties to the lowest part
    * key" (the usual most-complete/most-trusted-source proxy), applied
    * over every part RECORD whose name landed in a ≥2-name entity
    * ([[entityClusters]] stops at the histogram; this emits the
    * per-entity merge result a downstream consumer actually loads).
    * Emitted per entity: the canonical (lexicographic-min member
    * name), the surviving record's key and price cents, and the
    * record/name counts the merge collapsed.
    *
    * Exactness: the argmax is `min(struct(-price_cents, partkey))` —
    * the same total-order trick as [[graft.queries.TextQueries]]'s
    * repetition winner; the oracle replays it as a rank window with
    * the identical (price DESC, key ASC) order. All int64.
    *
    * Scale: the identity graph and CC are shared shapes with
    * [[entityClusters]]; the record join is a hash join on the name,
    * and the survivorship agg is one map-side-combinable pass over
    * records keyed by component.
    */
  def golden(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.cc.ConnectedComponents
    val part = Tables.part(spark, sfDir)
    val names = part.select(col("p_name").as("name")).distinct()
    val ids = names.select(col("name"), xxhash64(col("name")).as("id"))
    val pairs = fuzzyIndelPairs(spark, sfDir)
    val edges = pairs
      .join(ids.select(col("name").as("name_a"), col("id").as("src")), "name_a")
      .join(ids.select(col("name").as("name_b"), col("id").as("dst")), "name_b")
      .select("src", "dst")
    val selfPairs = ids.select(col("id").as("src"), col("id").as("dst"))
    val res = ConnectedComponents.runAuto(edges.union(selfPairs),
      maxIterations = 20)
    require(res.converged, "entity CC did not converge")
    val labeled = ids.join(res.assignments.toDF("id", "comp"), "id")
      .select(col("name"), col("comp"))
    val records = part.select(col("p_name").as("name"),
      col("p_partkey").cast("bigint").as("partkey"),
      floor(col("p_retailprice") * 100 + lit(0.5)).cast("bigint")
        .as("price_cents"))
    records.join(labeled, "name")
      .groupBy("comp")
      .agg(min(col("name")).as("canonical"),
           countDistinct(col("name")).as("n_names"),
           count(lit(1)).as("n_records"),
           min(struct((-col("price_cents")).as("np"), col("partkey"),
             col("price_cents"))).as("_win"))
      .where(col("n_names") >= 2)
      .select(col("canonical"), col("n_names"), col("n_records"),
        col("_win.partkey").as("golden_partkey"),
        col("_win.price_cents").as("golden_price_cents"))
      .orderBy("canonical")
  }

  val goldenOracle: String = """
WITH RECURSIVE n AS (SELECT DISTINCT p_name AS name FROM part),
p AS (
  SELECT a.name AS na, b.name AS nb
  FROM n a JOIN n b
    ON abs(len(a.name) - len(b.name)) <= 1 AND a.name < b.name
  WHERE levenshtein(a.name, b.name) = 1
),
e AS (SELECT na AS x, nb AS y FROM p UNION SELECT nb, na FROM p),
walk(name, comp) AS (
  SELECT name, name FROM n
  UNION
  SELECT e.x, w.comp FROM e JOIN walk w ON w.name = e.y AND w.comp < e.x
),
lab AS (SELECT name, min(comp) AS comp FROM walk GROUP BY name),
rec AS (
  SELECT lab.comp, part.p_name AS name,
         cast(p_partkey AS bigint) AS partkey,
         cast(floor(p_retailprice * 100 + 0.5) AS bigint) AS price_cents
  FROM part JOIN lab ON lab.name = part.p_name
),
ranked AS (
  SELECT comp, name, partkey, price_cents,
         row_number() OVER (PARTITION BY comp
                            ORDER BY price_cents DESC, partkey ASC) AS rn
  FROM rec
),
agg AS (
  SELECT comp, min(name) AS canonical,
         count(DISTINCT name) AS n_names, count(*) AS n_records
  FROM rec GROUP BY comp
)
SELECT a.canonical, a.n_names, a.n_records,
       r.partkey AS golden_partkey, r.price_cents AS golden_price_cents
FROM agg a JOIN ranked r ON r.comp = a.comp AND r.rn = 1
WHERE a.n_names >= 2
ORDER BY a.canonical
"""

  /** er_blocking_audit: blocking-key quality report — BEFORE running
    * any pairwise matcher, a linkage pipeline audits its candidate
    * blocking strategies: how many blocks, how big is the worst block,
    * how many candidate pairs survive (Σ b·(b−1)/2), and what fraction
    * of the naive all-pairs space that is. A strategy whose max block
    * is O(N) has degenerated to quadratic — exactly what
    * prefix-blocking does on corpora with a shared prefix (see the
    * wildcard-index scaladoc above). Audited here over part names:
    * `first_token` (the classic) vs `len_band` (length ÷ 4) —
    * all-integer arithmetic, pairs in ppm of N·(N−1)/2.
    *
    * Scale: two keyed counts plus a ≤|blocks|-row rollup each; the
    * audit never materializes a candidate pair. Headroom: Σb² ≤ N² in
    * the ppm product → decimal(38,0) guard from ~10⁸ names up.
    */
  def blockingAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val names = Tables.part(spark, sfDir).select(col("p_name")).distinct()
    def audit(strategy: String, key: org.apache.spark.sql.Column) = {
      val blocks = names.groupBy(key.as("k")).agg(count(lit(1)).as("b"))
      // sp = Σ b·(b−1) (twice the candidate pairs) stays integral all
      // the way: cand = sp div 2, ppm = sp·10⁶ div (n·(n−1)).
      blocks.agg(
          count(lit(1)).as("n_blocks"),
          max(col("b")).as("max_block"),
          sum(col("b").cast("decimal(19,0)") * (col("b") - 1))
            .cast("decimal(38,0)").as("sp"),
          sum(col("b")).as("n"))
        .select(lit(strategy).as("strategy"), col("n_blocks"),
          col("max_block"),
          expr("cast(sp div 2 as bigint)").as("cand_pairs"),
          expr("cast((sp * 1000000) div (cast(n as decimal(19,0)) * (n - 1))" +
               " as bigint)").as("pairs_ppm"))
    }
    audit("first_token", split(col("p_name"), " ").getItem(0))
      .unionAll(audit("len_band", (length(col("p_name")) / 4).cast("int")))
      .orderBy("strategy")
  }

  val blockingAuditOracle: String = """
WITH names AS (SELECT DISTINCT p_name FROM part),
b1 AS (
  SELECT string_split(p_name, ' ')[1] AS k, count(*) AS b
  FROM names GROUP BY 1
),
b2 AS (
  SELECT cast(length(p_name) // 4 AS int) AS k, count(*) AS b
  FROM names GROUP BY 1
),
a1 AS (
  SELECT 'first_token' AS strategy, count(*) AS n_blocks,
         max(b) AS max_block,
         sum(b::hugeint * (b - 1)) AS sp, sum(b) AS n
  FROM b1
),
a2 AS (
  SELECT 'len_band' AS strategy, count(*) AS n_blocks,
         max(b) AS max_block,
         sum(b::hugeint * (b - 1)) AS sp, sum(b) AS n
  FROM b2
),
u AS (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
SELECT strategy, n_blocks, max_block,
       cast(sp // 2 AS bigint) AS cand_pairs,
       cast((sp * 1000000) // (n::hugeint * (n - 1)) AS bigint) AS pairs_ppm
FROM u ORDER BY strategy
"""

  val all: Seq[Query] = Seq(
    Query("er_blocking_audit", blockingAudit, blockingAuditOracle),
    Query("er_fuzzy_pairs", fuzzyPairs, fuzzyPairsOracle),
    Query("er_fuzzy_indel", fuzzyIndelPairs, fuzzyIndelOracle),
    Query("er_entity_clusters", entityClusters, entityClustersOracle),
    Query("er_golden", golden, goldenOracle),
  )
}
