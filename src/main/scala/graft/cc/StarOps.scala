package graft.cc

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession, graftsql}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.util.AccumulatorV2

/** One Large-Star / Small-Star round (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC 2014), on Spark's binary
  * rows.
  *
  * Semantics mirror the reference implementation's
  * (`com.kwartile.lib.cc.ConnectedComponent`) exactly:
  *
  *  - smallStar: orient every pair `(max, min)`, group by the max
  *    ("self"), let m = min(self :: nbrs); emit the distinct set
  *    {(self, m)} ∪ {(n, m) | n ∈ nbrs, n ≠ m, n ≠ self}.
  *  - largeStar: symmetrize (self-loops emitted once), group by self,
  *    m = min(self :: nbrs); emit the distinct set
  *    {(n, m) | n ∈ {self} ∪ nbrs, n ≥ self}.
  *  - changeCount: |newPairs \ {(self, n) | n ∈ nbrs}| summed over
  *    groups.
  *
  * Implementation: the paper's streaming reducer over `InternalRow`s.
  * A star's input arcs come from one reused row ([[Arcs]]: the large
  * star symmetrizes, the small star orients), then ONE exchange and sort
  * ([[sortedBy]]: `repartition(<session shuffle partitions>, self)` and
  * `sortWithinPartitions(self, nbr)`, planned over an existing-RDD leaf
  * and prepared without AQE), then one pass ([[Scan]]) that reads each
  * sorted group once with `getLong`: the first row gives the minimum
  * neighbour and so m, adjacent duplicates are skipped (the reference's
  * per-group `HashSet` dedup), `(nbr, m)` rows are emitted while
  * scanning, and the group's end emits `(self, m)`. Every emitted row is
  * one reused `UnsafeRow`; no row is decoded to an object. State per key
  * is O(1), a handful of longs, and the group itself streams out of
  * Spark's external sorter, which spills. The reference built each
  * node's neighbour set in one buffer: O(component) state in ONE row
  * once a component converges, an OOM at 1 GB/core on the
  * 5×10⁷-member probe (SCALE.md "giant component").
  *
  * The skew trade: the giant component's key is ONE task's serial scan,
  * O(1) memory but O(component) time, where the earlier min-join form
  * (distinct + per-key min/count aggregate + a join back on `self`, up
  * to three shuffles per star) let AQE split the join on that key
  * across tasks. One task streaming the giant group costs less than the
  * two extra shuffles every key paid for the split:
  * `CCScaleProbe 10000000 giant new` at 4 threads and a 4 GB heap ran
  * its fixpoint in 221.2 s against the min-join form's 473.3 s, with
  * the same `rounds` vector (SCALE.md "One-shuffle star rounds").
  *
  * The partition count is fixed and the plan has no join or aggregate,
  * so AQE has nothing to adapt; it would only coalesce small rounds'
  * shuffles to one or two tasks and split a round into a job per
  * shuffle, with idle scheduling gaps between them.
  *
  * Change counts: the reference's set-diff count collapses to
  * arithmetic on the group scan — every new pair shares dst = m, so the
  * only old pair a new pair can equal is (self, m):
  *
  *   largeStar: |new| = 1 + |{n ∈ nbrs : n > self}|, overlap
  *     [m ∈ nbrs] = 1 if min(nbrs) < self else [self-loop].
  *   smallStar: m = min(nbrs) ∈ nbrs always, so count =
  *     |nbrs \ {m, self}| = |nbrs| − |{m, self} ∩ nbrs|.
  *
  * Non-star flag (large star only): with `below` the number of
  * distinct neighbours smaller than `self`, a group is a *leaf* when
  * `below = 1` and `kept = 0`, a *centre* when `below = 0`, and
  * *non-star* otherwise. When no group is non-star, the star's input is
  * a star forest centred on the component minima, the certificate
  * [[ConnectedComponents.run]] stops on (its scaladoc has the argument).
  *
  * Each scan sums its groups' counts and flags and, when its partition
  * ends, sets them in the star's [[StarCounts]] accumulator under its
  * partition index: the action that runs the star fills the counts with
  * no extra job, and a retried or recomputed task sets the same sums
  * again instead of adding them twice. [[ConnectedComponents.run]]
  * chains the two stars into its round's one packing job and reads both
  * counts when it returns; [[smallStar]] runs that action itself (its
  * pairs' packed checkpoint), which also runs, and fills the counts of,
  * a [[largeStarLazy]] feeding it.
  *
  * The emitted multiset equals the min-join form's and the reference's:
  * per group, each pair once; across groups, the same duplicates (each
  * star dedups its own input, so they never accumulate).
  */
object StarOps {

  /** pairs: the small star's new edge set, already stored as a packed
    * local checkpoint ([[PackedPairs]]); changeCount: connectivity
    * changes this round; handles: always empty — the stars persist
    * nothing besides `pairs`.
    */
  final case class StarResult(pairs: DataFrame, changeCount: Long,
                              handles: Seq[DataFrame])

  /** Large star: `pairs` is lazy, and `changeCount()` and `nonStar()`
    * (the number of non-star groups) are summed by the first action over
    * them (chained as in a round: the small star's checkpoint). Reading
    * either before any such action throws. `handles` is always empty.
    */
  final case class LazyStarResult(pairs: DataFrame, changeCount: () => Long,
                                  nonStar: () => Long, handles: Seq[DataFrame])

  private val Pairs = StructType(Seq(StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false)))

  /** Two-bigint rows exchanged on their first column into the session's
    * shuffle partitions and sorted by both columns within each:
    * `repartition` and `sortWithinPartitions`, planned once over an
    * existing-RDD leaf. The returned function prepares that plan without
    * AQE over given rows ([[graftsql.prepareOver]]); [[ConnectedComponents.run]]
    * reuses it for both stars of every round, where planning it afresh
    * would cost each star 4–10 ms of driver time. Both stars and
    * [[ConnectedComponents.runContracted]]'s contraction read their
    * groups off it.
    */
  private[cc] def sortedBy(spark: SparkSession): RDD[InternalRow] => SparkPlan = {
    val template = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Pairs)
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt, col("src"))
      .sortWithinPartitions("src", "dst")
      .queryExecution.sparkPlan
    rows => graftsql.prepareOver(spark, template, rows)
  }

  /** One star over `(src, dst)` bigint rows, lazy: [[Arcs]], `sorted` (a
    * [[sortedBy]]) and [[Scan]]. The returned counts fill when an action
    * runs the rows.
    */
  private[cc] def star(sorted: RDD[InternalRow] => SparkPlan, rows: RDD[InternalRow],
                       large: Boolean): (RDD[InternalRow], StarCounts) = {
    val groups = sorted(rows.mapPartitions(new Arcs(_, large))).execute()
    val counts = new StarCounts(groups.getNumPartitions)
    rows.sparkContext.register(counts)
    (groups.mapPartitionsWithIndex((i, it) => new Scan(it, large, counts, i)), counts)
  }

  /** Each partition's (change count, non-star groups) of one star. A
    * partition's scan sets its sums when it ends; sums are set, not
    * added, so a retried or recomputed task cannot count twice.
    */
  private[cc] final class StarCounts(partitions: Int)
      extends AccumulatorV2[(Int, Long, Long), Map[Int, (Long, Long)]] {
    private val sums = mutable.HashMap.empty[Int, (Long, Long)]

    def isZero: Boolean = sums.isEmpty
    def copy(): StarCounts = { val c = new StarCounts(partitions); c.sums ++= sums; c }
    def reset(): Unit = sums.clear()
    def add(v: (Int, Long, Long)): Unit = sums(v._1) = (v._2, v._3)
    def merge(other: AccumulatorV2[(Int, Long, Long), Map[Int, (Long, Long)]]): Unit =
      sums ++= other.value
    def value: Map[Int, (Long, Long)] = sums.toMap

    /** The star's (change count, non-star groups), summed over its
      * partitions; throws until every partition has reported.
      */
    def total: (Long, Long) = {
      if (sums.size < partitions) throw new IllegalStateException(
        "star count read before any action ran over the star's rows: the count is " +
        "summed by that action")
      sums.valuesIterator.foldLeft((0L, 0L)) { case ((c, n), (dc, dn)) => (c + dc, n + dn) }
    }
  }

  /** A star's input arcs `(self, nbr)` from `(src, dst)` rows, through
    * one reused row: the large star symmetrizes (a self-loop once, any
    * other pair in both orientations), the small star orients each pair
    * `(max, min)`. A null endpoint is an error.
    */
  private final class Arcs(rows: Iterator[InternalRow], large: Boolean)
      extends Iterator[InternalRow] {
    private val out = new UnsafeRow(2)
    out.pointTo(new Array[Byte](24), 24)
    private var flip = false // the large star's pending reverse arc
    private var a, b = 0L

    def hasNext: Boolean = flip || rows.hasNext

    def next(): InternalRow =
      if (flip) { flip = false; arc(b, a) }
      else {
        val r = rows.next()
        if (r.isNullAt(0) || r.isNullAt(1))
          throw new IllegalArgumentException("star input: null edge endpoint")
        a = r.getLong(0)
        b = r.getLong(1)
        if (large) { flip = a != b; arc(a, b) }
        else arc(math.max(a, b), math.min(a, b))
      }

    private def arc(self: Long, nbr: Long): InternalRow = {
      out.setLong(0, self)
      out.setLong(1, nbr)
      out
    }
  }

  /** Streams one star over `(self, nbr)` rows sorted by both within the
    * partition, all rows of a key in one partition. Per group: m from
    * the first row, a duplicate nbr is skipped (it equals the previous
    * row's), each kept nbr n emits (n, m), and the group's end emits
    * (self, m) and adds the group's change count and, in the large star,
    * its non-star flag to the partition's sums: 1 unless the group is a
    * leaf (exactly one distinct neighbour other than itself, and that one
    * smaller) or a centre (no smaller neighbour). The partition's end
    * sets the sums in `counts`. Every row it returns is one reused
    * `UnsafeRow`, and it reads each input row's fields before asking for
    * the next (the sorter reuses its row too).
    */
  private final class Scan(rows: Iterator[InternalRow], large: Boolean,
                           counts: StarCounts, partition: Int)
      extends Iterator[InternalRow] {
    private val in = rows.buffered
    private val out = new UnsafeRow(2)
    out.pointTo(new Array[Byte](24), 24)
    private var open, ready, reported = false
    private var self, mn, m, last = 0L
    private var kept = 0L // large: distinct nbrs > self; small: distinct nbrs
    private var below = 0L // distinct nbrs < self
    private var loop = false
    private var changes, nonStar = 0L

    def hasNext: Boolean = {
      while (!ready && (open || in.hasNext)) step()
      if (!ready && !reported) {
        counts.add((partition, changes, nonStar))
        reported = true
      }
      ready
    }

    def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException("end of star scan")
      ready = false
      out
    }

    private def step(): Unit =
      if (!open) {
        val r = in.next()
        self = r.getLong(0)
        mn = r.getLong(1)
        m = if (large) math.min(self, mn) else mn
        kept = 0L
        below = 0L
        loop = false
        open = true
        visit(mn)
      } else if (in.hasNext && in.head.getLong(0) == self) {
        val n = in.next().getLong(1)
        if (n != last) visit(n)
      } else close()

    private def close(): Unit = {
      open = false
      changes +=
        (if (large) 1L + kept - (if (mn < self || loop) 1L else 0L)
         else if (mn == self) 0L
         else kept - (if (loop) 2L else 1L))
      if (large && (below >= 2 || below == 1 && kept > 0)) nonStar += 1
      emit(self)
    }

    private def visit(n: Long): Unit = {
      last = n
      if (n == self) loop = true
      if (n < self) below += 1
      if (large) {
        if (n > self) { kept += 1; emit(n) }
      } else {
        kept += 1
        if (n != m && n != self) emit(n)
      }
    }

    private def emit(n: Long): Unit = {
      out.setLong(0, n)
      out.setLong(1, m)
      ready = true
    }
  }

  /** `nodePairs`' `(src, dst)` as bigint rows. */
  private def pairRows(nodePairs: DataFrame): RDD[InternalRow] =
    nodePairs.select(col("src").cast("bigint"), col("dst").cast("bigint")).queryExecution.toRdd

  def largeStarLazy(nodePairs: DataFrame): LazyStarResult = {
    val spark = nodePairs.sparkSession
    val (rows, counts) = star(sortedBy(spark), pairRows(nodePairs), large = true)
    LazyStarResult(graftsql.ofInternalRows(spark, Pairs, rows),
      () => counts.total._1, () => counts.total._2, Nil)
  }

  /** Runs the round's one action: the packed checkpoint of the small
    * star's pairs, which also runs (and fills the counts of) any large
    * star feeding `nodePairs`.
    */
  def smallStar(nodePairs: DataFrame): StarResult = {
    val spark = nodePairs.sparkSession
    val (rows, counts) = star(sortedBy(spark), pairRows(nodePairs), large = false)
    StarResult(PackedPairs.store(rows).frame(spark, "src", "dst"), counts.total._1, Nil)
  }
}
