package graft.cc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One Large-Star / Small-Star round (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC 2014), re-expressed on the
  * DataFrame API with codegen-friendly built-ins only — no UDFs, no RDDs.
  *
  * Semantics mirror the reference implementation exactly (reference:
  * /root/reference/src/main/scala/com/kwartile/lib/cc/ConnectedComponent.scala):
  *
  *  - smallStar (reference :42-107): orient every pair `(max, min)`,
  *    group by the max ("self"), let m = min(self :: nbrs); emit the
  *    distinct set {(self, m)} ∪ {(n, m) | n ∈ nbrs, n ≠ m, n ≠ self}.
  *  - largeStar (reference :114-176): symmetrize (self-loops emitted
  *    once), group by self, m = min(self :: nbrs); emit the distinct set
  *    {(n, m) | n ∈ {self} ∪ nbrs, n ≥ self}.
  *  - changeCount (reference :91,160): |newPairs \ {(self, n) | n ∈ nbrs}|
  *    summed over groups.
  *
  * Implementation: the MIN-JOIN form, not materialized adjacency. The
  * reference (and this engine through round 10) builds each node's
  * neighbor set in one aggregation buffer (`HashSet` there,
  * `collect_set` here). That is O(component) state in ONE row once a
  * component converges: every edge is then `(node, min)`, and the min
  * node's symmetric group holds the entire component — on a 100 TB
  * dedup corpus with a 10⁸-member boilerplate cluster, that's an OOM or
  * a multi-hour single-task straggler, untunable by partitioning
  * (measured: SCALE.md "giant component", old vs new shape on the same
  * 10⁸-node graph). But a star round doesn't NEED the neighbor set;
  * it needs three combinable per-key scalars — min(nbr), a neighbor
  * count, a self-loop flag — plus the edges themselves:
  *
  *   1. dedup the (self, nbr) rows (the reference's per-group HashSet
  *      dedup, as one hash aggregation keyed by BOTH columns — uniform
  *      keys, no skew);
  *   2. fold the per-key stats with plain min/count/max — O(1) state
  *      per key, map-side partial aggregation caps any hot key's
  *      reducer input at one row per upstream partition;
  *   3. join the stats row back onto the deduped edges on `self` to
  *      emit `(nbr, m)` — a shuffle join, which AQE skew-splits when a
  *      giant component concentrates one key.
  *
  * Per-row state is O(1) everywhere; the giant component costs extra
  * TASKS, not one giant buffer. This is the Kiveris streaming-reducer
  * formulation (the paper's reducers emit while scanning a sorted
  * group) rather than the reference's materialized-HashSet port of it.
  *
  * The emitted multiset is identical to the collect_set form's: per
  * group, each pair once (dedup makes the join distinct within a
  * group); across groups, the same duplicates either form produces
  * (each star dedups its own input, so they never accumulate). The
  * reference's set-diff change count collapses to arithmetic on the
  * stats row — every new pair shares dst = m, so the only old pair a
  * new pair can equal is (self, m):
  *
  *   largeStar: |new| = 1 + |{n ∈ nbrs : n > self}|, overlap
  *     [m ∈ nbrs] = 1 if min(nbrs) < self else [self-loop].
  *   smallStar: m = min(nbrs) ∈ nbrs always, so count =
  *     |nbrs \ {m, self}| = |nbrs| − |{m, self} ∩ nbrs|.
  *
  * (Arithmetic instead of array ops also matters for a second reason,
  * kept from round 7: array_distinct/array_except on struct arrays are
  * O(n²) in Spark — no hash path for non-atomic types.)
  */
object StarOps {

  /** pairs: the new edge set; changeCount: connectivity changes this
    * round; handles: the persisted intermediates (deduped edges +
    * per-key stats) — unpersist them once `pairs` has been
    * consumed/checkpointed.
    */
  final case class StarResult(pairs: DataFrame, changeCount: Long,
                              handles: Seq[DataFrame])

  /** Large star whose change-count action is DEFERRED: construction
    * persists the deduped edges and stats but runs no job; the first
    * downstream action over `pairs` (in the CC loop: the small star's
    * count) materializes both caches, after which `changeCount()` is a
    * cheap aggregation over the cached node-scale stats. One edge-scale
    * job per fixpoint round instead of two.
    */
  final case class LazyStarResult(pairs: DataFrame, changeCount: () => Long,
                                  handles: Seq[DataFrame])

  /** Symmetrized (self, nbr) rows — self-loops once, everything else in
    * both orientations (reference largeStar flatMap, :139-146).
    */
  private def symmetrize(nodePairs: DataFrame): DataFrame =
    nodePairs.select(explode(
      when(col("src") === col("dst"),
        array(struct(col("src").as("self"), col("dst").as("nbr"))))
      .otherwise(array(
        struct(col("src").as("self"), col("dst").as("nbr")),
        struct(col("dst").as("self"), col("src").as("nbr"))))
    ).as("e")).select(col("e.self").as("self"), col("e.nbr").as("nbr"))

  /** Per-key stats for the large star over deduped (self, nbr) rows:
    * m = min(self, min(nbrs)); cnt = 1 + |{n > self}| − [m ∈ nbrs].
    */
  private def largeStats(dedup: DataFrame): DataFrame =
    dedup.groupBy("self").agg(
        min("nbr").as("mn"),
        count(when(col("nbr") > col("self"), 1)).as("gt"),
        max(when(col("nbr") === col("self"), 1L).otherwise(0L)).as("loop"))
      .select(
        col("self"),
        least(col("self"), col("mn")).as("m"),
        (lit(1L) + col("gt") -
          when(col("mn") < col("self"), 1L).otherwise(col("loop"))).as("cnt"))

  /** Per-key stats for the small star (input oriented, nbr ≤ self):
    * m = min(nbrs); cnt = |nbrs| − |{m, self} ∩ nbrs|, where m ∈ nbrs
    * always and self ∈ nbrs iff a self-loop row exists.
    */
  private def smallStats(dedup: DataFrame): DataFrame =
    dedup.groupBy("self").agg(
        min("nbr").as("mn"),
        count(lit(1)).as("deg"),
        max(when(col("nbr") === col("self"), 1L).otherwise(0L)).as("loop"))
      .select(
        col("self"),
        col("mn").as("m"),
        (col("deg") - when(col("mn") === col("self"), 1L)
          .otherwise(when(col("loop") === 1L, 2L).otherwise(1L))).as("cnt"))

  /** Emitted pairs: (self, m) per group plus (nbr, m) for every deduped
    * edge row the star keeps — `keep` is n > self for the large star
    * (strictness dedups the self row), n ∉ {m, self} for the small star.
    */
  private def pairsOf(dedup: DataFrame, stats: DataFrame,
                      keep: Column): DataFrame =
    stats.select(col("self").as("src"), col("m").as("dst"))
      .unionAll(
        dedup.join(stats.select("self", "m"), "self")
          .where(keep)
          .select(col("nbr").as("src"), col("m").as("dst")))

  private val largeKeep: Column = col("nbr") > col("self")
  private val smallKeep: Column =
    col("nbr") =!= col("m") && col("nbr") =!= col("self")

  private def persistBoth(dedupIn: DataFrame,
                          stats: DataFrame => DataFrame)
      : (DataFrame, DataFrame) = {
    val dedup = dedupIn.distinct().persist(StorageLevel.MEMORY_AND_DISK)
    (dedup, stats(dedup).persist(StorageLevel.MEMORY_AND_DISK))
  }

  private def sumCnt(stats: DataFrame): Long =
    stats.agg(coalesce(sum("cnt"), lit(0L))).first().getLong(0)

  def largeStarLazy(nodePairs: DataFrame): LazyStarResult = {
    val (dedup, stats) = persistBoth(symmetrize(nodePairs), largeStats)
    LazyStarResult(pairsOf(dedup, stats, largeKeep),
      () => sumCnt(stats), Seq(dedup, stats))
  }

  def smallStar(nodePairs: DataFrame): StarResult = {
    val oriented = nodePairs.select(
      greatest(col("src"), col("dst")).as("self"),
      least(col("src"), col("dst")).as("nbr"))
    val (dedup, stats) = persistBoth(oriented, smallStats)
    StarResult(pairsOf(dedup, stats, smallKeep), sumCnt(stats),
      Seq(dedup, stats))
  }
}
