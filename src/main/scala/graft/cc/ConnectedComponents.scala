package graft.cc

import org.apache.spark.rdd.RDD

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._

/** Connected components via the alternating Large-Star / Small-Star
  * fixpoint (Kiveris et al., SoCC 2014), Spark-SQL-native.
  *
  * Public contract mirrors the reference implementation's
  * (`com.kwartile.lib.cc.ConnectedComponent.run`): the result maps every
  * node of the graph to the minimum node id of its component (the min
  * node maps to itself), `converged` reports whether
  * the fixpoint was reached within `maxIterations`, and `iterations` is
  * the number of large+small rounds executed.
  *
  * Stop rule: a certificate, not the reference's heuristic. The large
  * star's scan flags every group that is neither a *leaf* (exactly one
  * distinct neighbour other than itself, and that one smaller) nor a
  * *centre* (no smaller neighbour), and [[run]] stops after the first
  * round that flags none. Then the round's input was a star forest
  * centred on the component minima: a centre's neighbours are larger,
  * so each is a leaf whose only neighbour is that centre, and a leaf's
  * neighbour has a larger neighbour, so it is a centre. The stars
  * preserve connectivity, so that round's output, `(n, centre)` for
  * every node, is the exact labelling, and `converged` is true only
  * then. The reference stopped when both change counts repeated the
  * previous round's or were both zero: a heuristic that
  * spends one more round confirming a labelling that is already final
  * (and could in principle stop early on a coincidental repeat). So
  * `iterations`, `rounds` and `nonStar` end at the first star-forest
  * round.
  *
  * Unlike the reference (which returns a null RDD on non-convergence) we
  * always return the partial assignment; callers branch on `converged`.
  *
  * Scale discipline the reference lacks: each iteration's result is
  * `localCheckpoint`ed, truncating both RDD lineage and the Catalyst
  * logical plan (otherwise analysis time grows without bound around
  * iteration ~10). On a real cluster with a checkpoint dir configured,
  * set `reliableCheckpoint = true` to survive executor loss on very long
  * runs.
  */
object ConnectedComponents {

  /** `path` names the branch that ran: `fixpoint` for [[run]],
    * `driver` or `fixpoint` for [[runAuto]], and `contracted`,
    * `contracted+driver` or `contracted+fixpoint` for [[runContracted]]. `rounds` holds each fixpoint round's (large,
    * small) change counts and `nonStar` each round's count of
    * large-star groups that are neither a leaf nor a centre, in order.
    * [[run]] sums all three in the round's own job, so reporting them
    * runs no job. Both are empty when no star round ran.
    * `contraction` is [[runContracted]]'s (label rows, rep-graph edges),
    * the counts its packing job returns; `None` on the other paths.
    */
  final case class CCResult(assignments: DataFrame, path: String, converged: Boolean,
                            iterations: Int, rounds: Seq[(Long, Long)] = Nil,
                            nonStar: Seq[Long] = Nil,
                            contraction: Option[(Long, Long)] = None)

  /** @param edges DataFrame with integral columns `src`, `dst` (any
    *              orientation, duplicates/self-loops fine)
    *
    * Each round runs both stars at row level ([[StarOps.star]]) over
    * the last round's checkpoint (round 1: the cast input), through one
    * exchange-and-sort plan planned once per call ([[StarOps.sortedBy]]),
    * and packs the small star's rows into a local checkpoint of long
    * arrays ([[PackedPairs]], 16 B per pair): ONE job of three stages,
    * whose scans have filled both stars' counts when it returns. The
    * previous round's checkpoint, its input, is then freed at once, so
    * at most two rounds' pairs are ever stored. With `reliableCheckpoint`
    * each round copies its packed pairs to the checkpoint dir (one more
    * job) and frees the local copy. A null endpoint is an error.
    *
    * The result reads the last round's checkpoint, and its plan reports
    * the exact pair count, so a small result plans as small.
    *
    * The loop stops after the first round whose large star saw no
    * non-star group: that round's input was a star forest centred on
    * the component minima, so its output is the final labelling.
    */
  def run(edges: DataFrame, maxIterations: Int = 20,
          reliableCheckpoint: Boolean = false): CCResult = {
    val spark = edges.sparkSession
    val input = edges.select(
      col("src").cast("bigint").as("src"),
      col("dst").cast("bigint").as("dst"))
    val sorted = StarOps.sortedBy(spark)
    var rounds = Vector.empty[(Long, Long)]
    var nonStar = Vector.empty[Long]
    // The last round's pairs; never the caller's edges.
    var prev: Option[PackedPairs] = None
    while (!nonStar.lastOption.contains(0L) && rounds.size < maxIterations) {
      val (large, largeCounts) =
        StarOps.star(sorted, prev.fold(input.queryExecution.toRdd)(_.rows()), large = true)
      val (small, smallCounts) = StarOps.star(sorted, large, large = false)
      val next = PackedPairs.store(small, reliable = reliableCheckpoint)
      // This round's pairs are stored, so nothing reads the last
      // round's again; free its blocks (and, on the reliable branch,
      // files) now instead of waiting for a driver GC to let the
      // ContextCleaner find them.
      prev.foreach(_.free())
      prev = Some(next)
      val (changes, flagged) = largeCounts.total
      rounds :+= ((changes, smallCounts.total._1))
      nonStar :+= flagged
    }
    CCResult(prev.fold(input.toDF("node", "component"))(_.frame(spark, "node", "component")),
      "fixpoint", nonStar.lastOption.contains(0L), rounds.size, rounds, nonStar)
  }

  /** Input-partition count for the distributed fixpoint given the edge
    * count and the executor's memory-per-core. Exposed (and spec-pinned
    * against the round-10 probe configs, SCALE.md) so the sizing rule
    * is testable arithmetic, not archaeology: a task's transient star
    * state is ~100 bytes/edge, the binding constraint is heap-per-core,
    * and one task's slice must fit a quarter of its heap share.
    */
  private[cc] def inputPartitions(edgeCount: Long, cores: Int,
                                  maxHeapBytes: Long): Int = {
    val heapPerCore = maxHeapBytes / math.max(cores, 1)
    val rowsPerPartition = math.max(1L << 18, heapPerCore / 4L / 100L)
    math.min(20000L,
      math.max(cores.toLong, edgeCount / rowsPerPartition + 1L)).toInt
  }

  /** Edge count above which [[runAuto]] nudges a session missing the
    * [[Tuning]] preset: ~5×10⁷ edges is where the r11 probes first saw
    * uncompressed round-checkpoint storage become the binding term.
    */
  private[cc] val ScaleHintEdges: Long = 50L << 20

  /** The [[Tuning.recommended]] keys whose SESSION values differ from
    * the preset — the list [[runAuto]] names in its scale hint. Public
    * within cc so the hint's decision logic is spec-testable without
    * capturing stderr. Values compare NORMALIZED ([[Tuning.sameSetting]]
    * — ADVICE r12): a session that spelled the advisory size `16m` or
    * the GC interval `1min` is correctly tuned and must not be nagged.
    */
  private[cc] def missingScaleConfs(
      spark: org.apache.spark.sql.SparkSession): Seq[String] =
    Tuning.recommended.collect {
      case (k, v) if spark.conf.getOption(k)
        .orElse(Option(spark.sparkContext.getConf.get(k, null)))
        .forall(!Tuning.sameSetting(k, _, v)) => k
    }.toSeq.sorted

  /** Adaptive variant — the CC analog of Spark's
    * `autoBroadcastJoinThreshold`: count the (distinct) edges first; at
    * or below `smallGraphThreshold` solve with a driver-side union-find
    * (one collect, exact same min-labels), otherwise run the
    * distributed alternating fixpoint. Rationale: a fixpoint iteration
    * costs 2 shuffles and 1 job of fixed latency,
    * so a converged 6-round run on a few thousand edges spends a second
    * or more of pure scheduling — while a sub-million-edge graph
    * union-finds in milliseconds in the driver (exactly the regime where AQE would
    * broadcast a join side). Threshold is edge COUNT. On the
    * distributed branch the already-counted edges also size the input
    * partitions against heap-per-core (see inline comment) — the
    * round-10 probe lesson that map-side state per task, not total
    * heap, is what OOMs a halved-memory run. The deduplicated edges go
    * through the same packed checkpoint as a fixpoint round
    * ([[PackedPairs]]), whose one job also returns the edge count; the
    * driver path collects its long arrays (16 bytes per edge) and
    * union-finds them: 3 jobs, where a row checkpoint, a `count()` and
    * a typed `collect()` ran 5. Packing rejects a null endpoint on both
    * paths. Driver memory
    * at the default 4M edges: ~64 MB of collected arrays plus the
    * union-find map (~16 bytes per node slot, open addressing); raise
    * the threshold only with a matching driver-memory setting.
    *
    * `path` is `driver` on the driver path, where `iterations` is 0 and
    * `converged` is always true (union-find is exact), and `fixpoint`
    * on the distributed one.
    */
  def runAuto(edges: DataFrame, maxIterations: Int = 20,
              smallGraphThreshold: Long = 4L << 20): CCResult = {
    val spark = edges.sparkSession
    val e = PackedPairs.store(edges.select(
      col("src").cast("bigint").as("src"),
      col("dst").cast("bigint").as("dst"))
      .dropDuplicates("src", "dst").queryExecution.toRdd)
    val n = e.counts(0)
    // Giant input on an untuned session: say so ONCE, up front, naming
    // the preset — the alternative is the user rediscovering each
    // setting by OOM or by a full scratch disk mid-fixpoint
    // (SCALE.md r11; the confs are SparkConf-level, so by now they can
    // only be noted, not fixed — the fix belongs on the builder).
    if (n > ScaleHintEdges) {
      val missing = missingScaleConfs(spark)
      if (missing.nonEmpty)
        System.err.println(s"[cc] scale hint: $n edges but this session " +
          s"lacks the measured giant-run settings ${missing.mkString(", ")}" +
          " — see graft.cc.Tuning.configure" +
          " (apply on the SparkSession BUILDER; rdd compression and codec" +
          " cannot change after context start)")
    }
    if (n > smallGraphThreshold) {
      // Memory-aware input sizing (the round-10 half-memory lesson,
      // encoded instead of rediscovered by OOM): per-task transient
      // state in a star round is proportional to the task's edge
      // slice — the symmetrized rows in the shuffle writer's sort
      // buffer, ~100 bytes/edge with slack — and the binding constraint
      // is heap-per-core, not total heap. Size partitions so one task's
      // slice stays within a quarter of its heap share; past that the
      // buffer spills (the shuffle writer and the star's sort both go
      // through Spark's external sorter), so this bounds straggling,
      // not correctness. On a real cluster the same knob is
      // spark.sql.files.maxPartitionBytes.
      val parts = inputPartitions(n,
        math.max(spark.sparkContext.defaultParallelism, 1),
        Runtime.getRuntime.maxMemory())
      val edgeRows = e.frame(spark, "src", "dst")
      val res = run(if (e.numPartitions >= parts) edgeRows else edgeRows.repartition(parts),
        maxIterations)
      // Round 1 stored its own pairs; only a 0-round result reads the edges.
      if (res.iterations > 0) e.free()
      res
    } else {
      import spark.implicits._
      val uf = new LocalUnionFind(1 << 16)
      e.foreachPair(uf.union)
      e.free()
      CCResult(spark.createDataset(uf.iterator.toIndexedSeq)
                 .toDF("node", "component"),
               "driver", converged = true, iterations = 0)
    }
  }

  /** Two-phase CC — contract first, then solve only what is left.
    *
    * Phase 1 contracts the graph with a partition-local union-find: one
    * `mapPartitions` pass over the edge plan's own rows (`toRdd`, which
    * still runs adaptively), zero shuffles. Each task union-finds the
    * edges it already holds and emits `(node, rep)` where `rep` is the
    * min node of the node's task-local component — so every edge
    * collapses inside its task, and all surviving global connectivity
    * lives in nodes that appear in more than one task with different
    * reps.
    *
    * Phase 2 is one sorted pass ([[ContractScan]]), the paper's
    * streaming reducer as in [[StarOps]]:
    * `repartition(<session shuffle partitions>, node)` and
    * `sortWithinPartitions(node, rep)` prepared without AQE (the stars'
    * [[StarOps.sortedBy]]), then one scan. A node's first row gives its min
    * rep m and emits its label row `(node, m)`; each other distinct rep
    * r emits the rep-clique star edge `(r, m)`. Both kinds of row land
    * in one packed local checkpoint ([[PackedPairs]]: label pairs and
    * star edges in separate arrays, 16 B per pair), whose job is the
    * contraction's only one: it runs phase 1 and the exchange's map side
    * as its first stage, the sort, scan and packing as its second, and
    * returns both groups' counts, the star-edge count k among them.
    * Every phase reads and writes binary rows through reused buffers:
    * no row is decoded to an object, and no pair is boxed.
    *
    * Phase 3: when k = 0 every component was task-local, and the label
    * rows are the result (`path` `contracted`): no inner solve, no
    * join. Otherwise [[runAuto]] solves the rep graph — O(tasks x
    * components-per-task) nodes, typically orders of magnitude smaller
    * than the input — and `path` is `contracted+` its path (`driver` or
    * `fixpoint`). The label rows left-join its labels on m and keep m
    * where the rep graph has no label for it.
    *
    * Exactness: rep(n) <= n and rep(n) is connected to n, so a
    * component's minimum rep IS its minimum node (the global min node
    * is its own rep in every task where it appears). A rep in no star
    * edge is the only rep of every node it represents, so no other
    * task-local component shares a node with its components: its
    * component is theirs, and it is their minimum — its own label.
    * Labels are bit-identical to [[run]]'s under any partitioning
    * (CCPropertySpec).
    *
    * Memory: the task-local map costs 16 bytes/slot over the task's
    * DISTINCT nodes. With 128 MB input splits (~8M edges of two
    * bigints) the worst case — every endpoint distinct — is ~256 MB
    * transient; real graphs sit far below because contraction exists
    * precisely when nodes repeat. Size
    * `spark.sql.files.maxPartitionBytes` down if a corpus approaches
    * the worst case. The scan holds O(1) state per node — its group
    * streams out of Spark's external sorter, which spills — and its
    * partition count is fixed and planned without AQE, so nothing
    * coalesces the node-scale stages into one task.
    *
    * `iterations` and `rounds` report the inner solve's fixpoint rounds
    * (0 and empty on the driver path and when k = 0); `converged` is the
    * inner solve's flag; `contraction` is (label rows, k).
    *
    * Measured (CCScaleProbe, 4 threads, 4 GB heap; SCALE.md "One CC
    * front door"): on 19.2 M round-robin edges, contracting first cut
    * the fixpoint's input 6:1 but not its 3 rounds, and ran 77.6–85.1 s
    * against plain [[run]]'s 67.5–85.3 s; on a range-partitioned
    * 10⁷-node tree it ran 43.5 s against 169.9 s. Small graphs still go
    * to [[runAuto]] directly: its driver path returns a local relation,
    * which later joins broadcast.
    */
  def runContracted(edges: DataFrame, maxIterations: Int = 20,
                    smallGraphThreshold: Long = 4L << 20): CCResult = {
    val spark = edges.sparkSession
    val reps = edges.select(col("src").cast("bigint"), col("dst").cast("bigint"))
      .queryExecution.toRdd
      .mapPartitions { it =>
        val uf = new LocalUnionFind(1 << 12)
        it.foreach { r =>
          if (r.isNullAt(0) || r.isNullAt(1))
            throw new IllegalArgumentException("runContracted: null edge endpoint")
          uf.union(r.getLong(0), r.getLong(1))
        }
        val row = new UnsafeRow(2)
        row.pointTo(new Array[Byte](24), 24)
        uf.nodes.map { n => row.setLong(0, n); row.setLong(1, uf.find(n)); row: InternalRow }
      }
    // group 0: the label rows (node, m); group 1: the star edges (rep, m)
    val store = PackedPairs.store(contract(spark, reps), groups = 2,
      group = r => if (r.getBoolean(2)) 0 else 1)
    val contraction = Some((store.counts(0), store.counts(1)))
    if (store.counts(1) == 0)
      CCResult(store.frame(spark, "node", "component"), "contracted",
        converged = true, iterations = 0, contraction = contraction)
    else {
      val inner = runAuto(store.frame(spark, "src", "dst", group = 1),
        maxIterations, smallGraphThreshold)
      inner.copy(path = s"contracted+${inner.path}", contraction = contraction,
        assignments = store.frame(spark, "id", "m")
          .join(inner.assignments.toDF("m", "component"), Seq("m"), "left")
          .select(col("id").as("node"), coalesce(col("component"), col("m")).as("component")))
    }
  }

  /** [[runContracted]]'s phase 2 over its `(node, rep)` rows, lazy: the
    * rows of [[StarOps.sortedBy]] through [[ContractScan]].
    * [[runContracted]] runs it inside its one action, the packing job.
    */
  private[cc] def contract(spark: SparkSession, reps: RDD[InternalRow]): RDD[InternalRow] =
    StarOps.sortedBy(spark)(reps).execute().mapPartitions(new ContractScan(_))

  /** Streams [[runContracted]]'s phase 2 over `(node, rep)` rows sorted
    * by (node, rep) within the partition, all rows of a node in one
    * partition: a group's first row gives m and emits `(node, m, true)`,
    * each later distinct rep r emits `(r, m, false)` (a rep-clique star
    * edge), and a row repeating the previous rep is skipped. Every row
    * it returns is one reused `UnsafeRow`, and it reads each input row's
    * fields before asking for the next (the sorter reuses its row too).
    */
  private[cc] final class ContractScan(rows: Iterator[InternalRow])
      extends Iterator[InternalRow] {
    private val out = new UnsafeRow(3)
    out.pointTo(new Array[Byte](32), 32)
    private var open, ready = false
    private var node, m, last = 0L

    def hasNext: Boolean = {
      while (!ready && rows.hasNext) {
        val r = rows.next()
        val n = r.getLong(0)
        val rep = r.getLong(1)
        if (!open || n != node) {
          open = true
          node = n
          m = rep
          emit(n, label = true)
        } else if (rep != last) emit(rep, label = false)
        last = rep
      }
      ready
    }

    def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException("end of contraction scan")
      ready = false
      out
    }

    private def emit(id: Long, label: Boolean): Unit = {
      out.setLong(0, id)
      out.setLong(1, m)
      out.setBoolean(2, label)
      ready = true
    }
  }

  /** Mutable long-keyed union-find (union-by-min roots + full path
    * compression; iterative find so adversarial chains can't blow the
    * stack) over [[LongLongMap]] — the working set of [[runAuto]]'s
    * driver path and of each [[runContracted]] task.
    */
  private[cc] final class LocalUnionFind(initialCapacity: Int) {
    private val parent = new LongLongMap(initialCapacity)
    // The last union's endpoints and their common root. Only a union
    // moves a root, so until the next one both still have that root; a
    // clique stream repeats an endpoint pair after pair, and each repeat
    // skips a find.
    private var lastA, lastB, lastRoot = 0L
    private var remembered = false

    def find(x: Long): Long = {
      var r = x
      var p = parent.getOrPut(r, r)
      while (p != r) { r = p; p = parent.getOrPut(r, r) }
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent.put(c, r); c = nxt }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val ra = if (remembered && (a == lastA || a == lastB)) lastRoot else find(a)
      val rb = if (remembered && (b == lastA || b == lastB)) lastRoot else find(b)
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      lastA = a
      lastB = b
      lastRoot = math.min(ra, rb)
      remembered = true
    }
    /** Every node ever seen. Path compression while iterating only
      * rewrites existing slots — no rehash, so calling [[find]] on each
      * node as it comes is safe.
      */
    def nodes: Iterator[Long] = parent.keysIterator
    /** (node, root) for every node ever seen. */
    def iterator: Iterator[(Long, Long)] = nodes.map(n => (n, find(n)))
  }

  /** Minimal open-addressing long→long map (linear probe, power-of-two
    * capacity, grow at 60% load) — the driver union-find's working set.
    * A boxed `Map[Long, Long]` costs ~100 bytes/entry; this costs 16
    * bytes/slot, which is what makes the 4M-edge threshold honest.
    * `Long.MinValue` marks an empty slot, so that one key lives in a
    * dedicated side slot instead: every path accepts every bigint id,
    * as [[run]] does.
    */
  private final class LongLongMap(initialCapacity: Int) {
    private val Empty = Long.MinValue
    private var cap = Integer.highestOneBit(math.max(initialCapacity, 16) * 2 - 1) << 1 match {
      case 0 => 16
      case c => c
    }
    private var keys = Array.fill(cap)(Empty)
    private var vals = new Array[Long](cap)
    private var n = 0
    private var hasMinKey = false
    private var minKeyVal = 0L

    private def idx(k: Long): Int = {
      var i = (java.lang.Long.hashCode(k * 0x9e3779b97f4a7c15L)) & (cap - 1)
      while (keys(i) != Empty && keys(i) != k) i = (i + 1) & (cap - 1)
      i
    }

    private def grow(): Unit = {
      val ok = keys; val ov = vals
      cap <<= 1
      keys = Array.fill(cap)(Empty)
      vals = new Array[Long](cap)
      n = 0
      var i = 0
      while (i < ok.length) {
        if (ok(i) != Empty) put(ok(i), ov(i))
        i += 1
      }
    }

    def put(k: Long, v: Long): Unit =
      if (k == Empty) { hasMinKey = true; minKeyVal = v }
      else {
        val i = idx(k)
        if (keys(i) == Empty) { keys(i) = k; n += 1 }
        vals(i) = v
        if (n * 5 > cap * 3) grow()
      }

    /** value for k, inserting `default` first if absent. */
    def getOrPut(k: Long, default: Long): Long =
      if (k == Empty) {
        if (!hasMinKey) put(k, default)
        minKeyVal
      } else {
        val i = idx(k)
        if (keys(i) == Empty) { put(k, default); default } else vals(i)
      }

    def apply(k: Long): Long = if (k == Empty) minKeyVal else vals(idx(k))

    /** Iterator over the key set as of the call; safe against value
      * rewrites (path compression) but not against growth.
      */
    def keysIterator: Iterator[Long] = {
      val slots = keys.iterator.filter(_ != Empty)
      if (hasMinKey) Iterator.single(Empty) ++ slots else slots
    }
  }

  /** Reference `run(cliques)` equivalent: cliques (array column) → CC. */
  def runCliques(cliques: DataFrame, nodesCol: String = "nodes",
                 maxIterations: Int = 20): CCResult =
    run(EdgeBuilder.cliqueEdgesGen(cliques, nodesCol), maxIterations)

  /** Materialized components, reference CCDriver.scala:58-74 parity:
    * (component, size, sorted members).
    *
    * SCALE WARNING — this is the ONE path in the library that carries
    * O(component) state per row, kept deliberately because it IS the
    * reference's output contract (`collect` the full sorted membership
    * per component). On a corpus with a mega-cluster (the shape the
    * r11 giant probes solved at 10⁸ members) a single output row holds
    * the entire membership array and the aggregation buffer behind it
    * OOMs exactly the way the star fix eliminated. At scale, either
    * consume the engine's primary output — the `(node, component)`
    * pairs themselves, safe at any component size — or use
    * [[componentsPreview]], which bounds every row.
    */
  def components(assignments: DataFrame): DataFrame =
    assignments.groupBy("component")
      .agg(sort_array(collect_list("node")).as("members"))
      .select(col("component"), size(col("members")).as("n_members"),
              col("members"))

  /** Bounded [[components]] for giant-component corpora (VERDICT r11
    * #2): per component, its SIZE, MIN member, and the FIRST
    * `maxMembers` members in ascending order — every row AND every
    * task O(maxMembers) regardless of component size. Plan shape: ONE
    * aggregation where `count` and `min` are O(1) partials and the
    * preview is a [[graft.functions.BottomK]] typed aggregate whose
    * buffer holds ≤ `maxMembers` values — the map-side partial bounds
    * what any task ever holds or ships for the mega-component, unlike
    * the window spelling (`row_number` over `partitionBy(component)`),
    * which would land the whole component in one task's O(component)
    * sort/spill (ADVICE r12). Residual cost, stated: on a
    * high-cardinality corpus the object-hash aggregate behind the
    * typed buffer falls back to sort-based aggregation per task, an
    * O(slice log slice) sort of that task's OWN partition — bounded by
    * partition sizing, never by component size.
    *
    * Input contract: `node` must be an integral column (it is cast to
    * bigint, matching [[run]]'s own output), and `members_preview` is
    * always `array<bigint>` — narrower than the old window spelling,
    * which preserved arbitrary orderable node types.
    */
  def componentsPreview(assignments: DataFrame,
                        maxMembers: Int = 100): DataFrame = {
    require(maxMembers >= 1, s"maxMembers $maxMembers < 1")
    // ADVICE r13: the bigint cast below is silent under non-ANSI
    // casting — a string node column would yield null previews instead
    // of an error. Enforce the documented integral contract loudly.
    val nodeType = assignments.schema("node").dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(nodeType),
      s"componentsPreview requires an integral node column " +
      s"(run()'s own output is bigint); got ${nodeType.simpleString}")
    val bottomK = udaf(new graft.functions.BottomK(maxMembers))
    val node = col("node").cast("bigint")
    assignments.groupBy("component")
      .agg(count(lit(1)).as("n_members"), min(node).as("min_member"),
           bottomK(node).as("members_preview"))
      .select(col("component"), col("n_members"), col("min_member"),
              col("members_preview"))
  }
}
