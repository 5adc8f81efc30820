package graft.cc

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Encoders, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One Large-Star / Small-Star round (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC 2014), on the DataFrame API.
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
  * Implementation: the paper's streaming reducer. Each star is ONE
  * exchange, `repartition(<session shuffle partitions>, self)`, then
  * `sortWithinPartitions(self, nbr)` and one `mapPartitions` pass that
  * scans each sorted group once ([[Scan]]): the first row gives the
  * minimum neighbour and so m, adjacent duplicates are skipped (the
  * reference's per-group `HashSet` dedup), `(nbr, m)` rows are emitted
  * while scanning, and the group's end emits `(self, m)` with the
  * group's change count. State per key is O(1) — a handful of longs —
  * and the group itself streams out of Spark's external sorter, which
  * spills. The reference (and this engine through round 10) instead
  * built each node's neighbour set in one buffer, O(component) state in
  * ONE row once a component converges: every edge is then `(node, min)`
  * and the min node's symmetric group holds the entire component — an
  * OOM at 1 GB/core on the 5×10⁷-member probe (SCALE.md "giant
  * component").
  *
  * The skew trade: the giant component's key is ONE task's serial scan,
  * O(1) memory but O(component) time, where the previous min-join form
  * (distinct + per-key min/count aggregate + a join back on `self`, up
  * to three shuffles per star and four persisted caches per round) let
  * AQE split the join on that key across tasks. The scan is a single
  * pass over sorted rows, so one task streaming the giant group costs
  * less than the two extra shuffles every key paid for the split:
  * `CCScaleProbe 10000000 giant new` at 4 threads and a 4 GB heap ran
  * its fixpoint in 221.2 s against the min-join form's 473.3 s, with
  * peak cached storage 127.5 MiB against 1604.3 MiB and the same
  * `rounds` vector (SCALE.md "One-shuffle star rounds").
  *
  * The partition count is fixed, so AQE does not coalesce the star
  * shuffles to one or two tasks on small rounds.
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
  * Each group's count and flag ride on its `(self, m)` row and are
  * summed by an `observe` on the action that runs the star's plan — no
  * extra job. [[largeStarLazy]] and [[smallStar]] sum into
  * `Observation`s, and [[smallStar]] runs that action itself: one eager
  * `localCheckpoint` of its pairs, which also runs the large star that
  * feeds it and so fills both counts. [[ConnectedComponents.run]]
  * instead plans [[round]] (the same two stars, with named `observe`s)
  * once per call and prepares it without AQE: each star fixes its
  * partition count and the round has no join or aggregate, so AQE has
  * nothing to adapt, yet it splits a round into three jobs (each
  * shuffle's map stage, then the checkpoint) with idle scheduling gaps
  * between them.
  *
  * The emitted multiset equals the min-join form's and the reference's:
  * per group, each pair once; across groups, the same duplicates (each
  * star dedups its own input, so they never accumulate).
  */
object StarOps {

  /** pairs: the small star's new edge set, already materialized as a
    * local checkpoint (MEMORY_AND_DISK_SER) that the caller owns;
    * changeCount: connectivity changes this round; handles: always
    * empty — the stars persist nothing besides `pairs`.
    */
  final case class StarResult(pairs: DataFrame, changeCount: Long,
                              handles: Seq[DataFrame])

  /** Large star: `pairs` is lazy, and `changeCount()` and `nonStar()`
    * (the number of non-star groups) are observed on the first action
    * over them (chained as in a round: the small star's checkpoint).
    * Reading either before any such action throws. `handles` is always
    * empty.
    */
  final case class LazyStarResult(pairs: DataFrame, changeCount: () => Long,
                                  nonStar: () => Long, handles: Seq[DataFrame])

  /** One input row of a star's group scan. */
  private[cc] final case class Arc(self: Long, nbr: Long)

  /** One emitted pair. On a group's `(self, m)` row, `cnt` is the
    * group's change count and `nonStar` its non-star flag (large star
    * only); both are 0 on every other row.
    */
  private[cc] final case class Emit(src: Long, dst: Long, cnt: Long, nonStar: Long)

  /** Streams one star over rows sorted by (self, nbr) within the
    * partition, all rows of a key in one partition. Per group: m from
    * the first row, a duplicate nbr is skipped (it equals the previous
    * row's), each kept nbr n emits (n, m), and the group's end emits
    * (self, m) with the group's count and, in the large star, its
    * non-star flag: 1 unless the group is a leaf (exactly one distinct
    * neighbour other than itself, and that one smaller) or a centre (no
    * smaller neighbour).
    */
  private final class Scan(rows: Iterator[Arc], large: Boolean)
      extends Iterator[Emit] {
    private val in = rows.buffered
    private var open = false
    private var self, mn, m, last = 0L
    private var kept = 0L // large: distinct nbrs > self; small: distinct nbrs
    private var below = 0L // distinct nbrs < self
    private var loop = false
    private var out: Emit = null

    def hasNext: Boolean = {
      while (out == null && (open || in.hasNext)) step()
      out != null
    }

    def next(): Emit = {
      if (!hasNext) throw new NoSuchElementException("end of star scan")
      val o = out
      out = null
      o
    }

    private def step(): Unit =
      if (!open) {
        val a = in.next()
        self = a.self
        mn = a.nbr
        m = if (large) math.min(self, mn) else mn
        kept = 0L
        below = 0L
        loop = false
        open = true
        visit(mn)
      } else if (in.hasNext && in.head.self == self) {
        val n = in.next().nbr
        if (n != last) visit(n)
      } else {
        open = false
        val cnt =
          if (large) 1L + kept - (if (mn < self || loop) 1L else 0L)
          else if (mn == self) 0L
          else kept - (if (loop) 2L else 1L)
        val nonStar = large && (below >= 2 || below == 1 && kept > 0)
        out = Emit(self, m, cnt, if (nonStar) 1L else 0L)
      }

    private def visit(n: Long): Unit = {
      last = n
      if (n == self) loop = true
      if (n < self) below += 1
      if (large) {
        if (n > self) { kept += 1; out = Emit(n, m, 0L, 0L) }
      } else {
        kept += 1
        if (n != m && n != self) out = Emit(n, m, 0L, 0L)
      }
    }
  }

  /** The star over (self, nbr) rows: one exchange on `self`, a sort
    * within partitions, one scan. The action that runs it sums the
    * per-group counts (and, for the large star, the non-star flags)
    * into `counts`: an `Observation`, or the metrics of a named
    * `observe` that [[ConnectedComponents.run]] reads off its own plan.
    */
  private def star(rows: DataFrame, large: Boolean,
                   counts: Either[Observation, String]): DataFrame = {
    val parts = rows.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val scanned = rows.repartition(parts, col("self"))
      .sortWithinPartitions("self", "nbr")
      .as(Encoders.product[Arc])
      .mapPartitions((it: Iterator[Arc]) => new Scan(it, large): Iterator[Emit])(
        Encoders.product[Emit])
    val sums = coalesce(sum("cnt"), lit(0L)).as("cnt") +:
      (if (large) Seq(coalesce(sum("nonStar"), lit(0L)).as("nonStar")) else Nil)
    counts.fold(scanned.observe(_, sums.head, sums.tail: _*),
                scanned.observe(_, sums.head, sums.tail: _*))
      .select("src", "dst")
  }

  /** How long a large-star count read waits for Spark to deliver the
    * observation of an action that already returned. Delivery (a
    * listener-bus event) takes milliseconds, and [[smallStar]] waits
    * for its own observation of the same event first; a read that waits
    * this long had no action to wait for.
    */
  private val DeliveryWait: Duration = 5.seconds

  /** The observed sum `i` of a star (0: changes, 1: non-star groups).
    * An action over an empty input may plan the observed rows away; its
    * observation is then an empty row, and the sum is 0.
    */
  private def observedCount(obs: Observation, wait: Duration, i: Int): Long = {
    val row =
      try Await.result(obs.future, wait)
      catch {
        case _: TimeoutException => throw new IllegalStateException(
          "observed count read before any action ran over the observed " +
          "rows: the count is observed on that action")
      }
    if (row.length == 0) 0L else row.getLong(i)
  }

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

  /** Small-star input rows: each pair oriented (max, min). */
  private def orient(nodePairs: DataFrame): DataFrame =
    nodePairs.select(
      greatest(col("src"), col("dst")).as("self"),
      least(col("src"), col("dst")).as("nbr"))

  def largeStarLazy(nodePairs: DataFrame): LazyStarResult = {
    val obs = Observation()
    LazyStarResult(star(symmetrize(nodePairs), large = true, Left(obs)),
      () => observedCount(obs, DeliveryWait, 0), () => observedCount(obs, DeliveryWait, 1), Nil)
  }

  /** Runs the round's one action: an eager local checkpoint of the small
    * star's pairs, which also runs (and fills the count of) any large
    * star feeding `nodePairs`.
    */
  def smallStar(nodePairs: DataFrame): StarResult = {
    val obs = Observation()
    // MEMORY_AND_DISK_SER: rows are read back at most once next round.
    // Under the default Java serializer a serialized 2-long UnsafeRow
    // costs 42 B; ConnectedComponents.run stores its rounds as packed
    // long arrays instead (PackedPairs, 16 B per pair).
    val pairs = star(orient(nodePairs), large = false, Left(obs))
      .localCheckpoint(eager = true, StorageLevel.MEMORY_AND_DISK_SER)
    StarResult(pairs, observedCount(obs, Duration.Inf, 0), Nil)
  }

  /** Metric names of [[round]]'s two `observe`s. [[LargeCounts]] holds
    * the large star's change count and non-star group count,
    * [[SmallCounts]] the small star's change count.
    */
  private[cc] val LargeCounts = "graft_cc_large_star"
  private[cc] val SmallCounts = "graft_cc_small_star"

  /** One fixpoint round as one lazy plan: the large star over
    * `nodePairs`, then the small star over its pairs, each star's sums
    * under a named `observe`. [[ConnectedComponents.run]] plans it once
    * and runs it as one job per round.
    */
  private[cc] def round(nodePairs: DataFrame): DataFrame =
    star(orient(star(symmetrize(nodePairs), large = true, Right(LargeCounts))),
      large = false, Right(SmallCounts))
}
