package graft.cc

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components via the alternating Large-Star / Small-Star
  * fixpoint (Kiveris et al., SoCC 2014), Spark-SQL-native.
  *
  * Public contract mirrors the reference
  * (/root/reference/src/main/scala/com/kwartile/lib/cc/ConnectedComponent.scala:266-279):
  * the result maps every node of the graph to the minimum node id of its
  * component (the min node maps to itself), `converged` reports whether
  * the fixpoint was reached within `maxIterations`, and `iterations` is
  * the number of large+small rounds executed. Convergence rule
  * (reference :247-249), preserved exactly because it changes iteration
  * counts: converged ⇔ both change counts equal the previous iteration's
  * counts, OR both are zero.
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

  /** `rounds` holds each fixpoint round's (large, small) change counts,
    * in order — counts [[run]] already has on the driver, so reporting
    * them runs no job. Empty when no star round ran (the driver
    * union-find path).
    */
  final case class CCResult(assignments: DataFrame, converged: Boolean, iterations: Int,
                            rounds: Seq[(Long, Long)] = Nil)

  /** The reference's stop rule (ConnectedComponent.scala:247-249): both
    * change counts repeat the previous round's, or both are zero. With
    * no previous round only the zero case can fire — the reference seeds
    * `prev` with a 9999999 sentinel instead, so a first round whose
    * counts both happened to equal it "converged" after one round.
    */
  private[cc] def stopRule(prev: Option[(Long, Long)],
                           large: Long, small: Long): Boolean =
    prev.contains((large, small)) || (large == 0 && small == 0)

  /** The RDD behind a checkpointed Dataset (its analyzed plan is a
    * LogicalRDD leaf), so superseded round checkpoints can be freed
    * DETERMINISTICALLY. Without this, each round's blocks (plus the
    * shuffle files its lineage pins) linger until a driver GC lets the
    * ContextCleaner reap them — on a 48g+ heap GCs are rare, so a long
    * fixpoint accumulates every round's working set on executor disks
    * (measured: the 10⁸-node giant-component probe filled ~90 GB of
    * scratch in 4 rounds before this fix; SCALE.md "giant component").
    */
  private def checkpointRdd(ds: DataFrame): Option[RDD[_]] =
    ds.queryExecution.analyzed match {
      case l: LogicalRDD => Some(l.rdd)
      case _             => None
    }

  /** Frees a SUPERSEDED round checkpoint: blocks always; on the
    * reliable branch also the checkpoint FILES, deterministically.
    * `unpersist` cannot touch reliable checkpoint files (they outlive
    * the blocks by design), and the ContextCleaner only deletes them
    * when `spark.cleaner.referenceTracking.cleanCheckpoints` is set AND
    * a driver GC collects the RDD — rare on a big heap, so a
    * multi-round fixpoint would otherwise hold EVERY round's files
    * until context stop: rounds × round-size of cluster-visible
    * storage where the localCheckpoint branch holds ~2 × round-size.
    * Safe at this call site by the same one-round-lag argument as the
    * block unpersist — the successor checkpoint has materialized, so
    * nothing can read these files again.
    */
  private def freeCheckpoint(r: RDD[_], reliable: Boolean): Unit = {
    r.unpersist(false)
    if (reliable) r.getCheckpointFile.foreach { dir =>
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(r.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** @param edges DataFrame with integral columns `src`, `dst` (any
    *              orientation, duplicates/self-loops fine)
    */
  def run(edges: DataFrame, maxIterations: Int = 20,
          reliableCheckpoint: Boolean = false): CCResult = {
    val spark = edges.sparkSession
    var pairs = edges.select(
      col("src").cast("bigint").as("src"),
      col("dst").cast("bigint").as("dst"))
    var rounds = Vector.empty[(Long, Long)]
    var converged = false
    // Handles persisted in iteration i stay alive until iteration i+1's
    // first action has materialized the (lazy) checkpoint that reads
    // them — eager checkpointing would cost a whole extra job per
    // iteration, which dominates wall time on small graphs.
    var pendingUnpersist: Seq[DataFrame] = Nil
    // Round checkpoints, freed on the same one-round lag: cp created in
    // round k (lazy) materializes during round k+1's first action, at
    // which point cp_{k-1}'s blocks feed nothing and are dropped.
    var materializedCp: Option[RDD[_]] = None
    var pendingCp: Option[RDD[_]] = None
    while (!converged && rounds.size < maxIterations) {
      // ONE edge-scale job per round: the large star defers its count
      // and streams into the small star, whose count action executes
      // the whole round — materializing all four star caches and last
      // round's lazy checkpoint on the way. The two count reads after
      // it are node-scale aggregations over cached stats.
      val ls = StarOps.largeStarLazy(pairs)
      val ss = StarOps.smallStar(ls.pairs)
      val large = ls.changeCount()
      // The large star's caches fed the small star's (now materialized)
      // caches; nothing downstream reads them again.
      ls.handles.foreach(_.unpersist(false))
      pendingUnpersist.foreach(_.unpersist(false))
      // MEMORY_AND_DISK_SER: rows are read back at most once next
      // round, and serialized UnsafeRow blocks cost ~25 B/row where the
      // default deserialized level costs ~85 B in memory and ~10× that
      // Java-serialized on disk spill (measured on the giant probe).
      val next =
        if (reliableCheckpoint) ss.pairs.checkpoint(eager = false)
        else ss.pairs.localCheckpoint(false, StorageLevel.MEMORY_AND_DISK_SER)
      // The checkpoint materialized by THIS round's action supersedes
      // the previous one; free the old blocks (and, on the reliable
      // branch, files) now instead of waiting for a driver GC to let
      // the ContextCleaner find them.
      materializedCp.foreach(freeCheckpoint(_, reliableCheckpoint))
      materializedCp = pendingCp
      pendingCp = checkpointRdd(next)
      pendingUnpersist = ss.handles
      val small = ss.changeCount
      converged = stopRule(rounds.lastOption, large, small)
      rounds :+= ((large, small))
      pairs = next
    }
    // Materialize the final checkpoint before releasing its inputs.
    val out = pairs.toDF("node", "component")
    if (rounds.nonEmpty) {
      out.count()
      pendingUnpersist.foreach(_.unpersist(false))
      // The final checkpoint (the result, owned by the caller — its
      // files live until the caller or context stop frees them) is now
      // materialized; its predecessor is dead.
      materializedCp.foreach(freeCheckpoint(_, reliableCheckpoint))
    }
    CCResult(out, converged, rounds.size, rounds)
  }

  /** Adaptive variant — the CC analog of Spark's
    * `autoBroadcastJoinThreshold`: count the (distinct) edges first; at
    * or below `smallGraphThreshold` solve with a driver-side union-find
    * (one collect, exact same min-labels), otherwise run the
    * distributed alternating fixpoint. Rationale: a fixpoint iteration
    * costs 2 shuffles + 2 actions of fixed latency, so a converged
    * 6-round run on a few thousand edges spends seconds of pure
    * scheduling — while a sub-million-edge graph union-finds in
    * milliseconds in the driver (exactly the regime where AQE would
    * broadcast a join side). Threshold is edge COUNT. On the
    * distributed branch the already-counted edges also size the input
    * partitions against heap-per-core (see inline comment) — the
    * round-10 probe lesson that map-side state per task, not total
    * heap, is what OOMs a halved-memory run. Driver memory at
    * the default 4M edges: the union-find map is compact (~16 bytes per
    * node slot, open addressing), but the `collect()` itself transits
    * up to 4M boxed tuples — budget ~1 GB of driver heap at the
    * default, dominated by the collect, and raise the threshold only
    * with a matching driver-memory setting.
    *
    * `iterations` is 0 on the driver path; `converged` is always true
    * there (union-find is exact).
    */
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

  def runAuto(edges: DataFrame, maxIterations: Int = 20,
              smallGraphThreshold: Long = 4L << 20): CCResult = {
    val spark = edges.sparkSession
    val e = edges.select(
      col("src").cast("bigint").as("src"),
      col("dst").cast("bigint").as("dst"))
      .dropDuplicates("src", "dst")
      .localCheckpoint()
    val n = e.count()
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
      // slice — symmetrized rows plus the distinct hash map, ~100
      // bytes/edge with slack — and the binding constraint is
      // heap-per-core, not total heap. Size partitions so one task's
      // slice stays within a quarter of its heap share; a fraction of
      // that state spills gracefully (hash aggregation falls back to
      // sort-based), so this bounds straggling, not correctness. On a
      // real cluster the same knob is spark.sql.files.maxPartitionBytes.
      val parts = inputPartitions(n,
        math.max(spark.sparkContext.defaultParallelism, 1),
        Runtime.getRuntime.maxMemory())
      val sized = if (e.rdd.getNumPartitions >= parts) e
                  else e.repartition(parts)
      run(sized, maxIterations)
    } else {
      import spark.implicits._
      val uf = new LocalUnionFind(1 << 16)
      e.as[(Long, Long)].collect().foreach { case (a, b) => uf.union(a, b) }
      CCResult(spark.createDataset(uf.iterator.toIndexedSeq)
                 .toDF("node", "component"),
               converged = true, iterations = 0)
    }
  }

  /** Two-phase CC — the 100 TB front door over [[run]] WHEN the input
    * layout cooperates (see the measured caveat below).
    *
    * Phase 1 contracts the graph with a partition-local union-find: one
    * `mapPartitions` pass, zero shuffles. Each task union-finds the
    * edges it already holds and emits `(node, rep)` where `rep` is the
    * min node of the node's task-local component — so every edge
    * collapses inside its task, and all surviving global connectivity
    * lives in nodes that appear in more than one task with different
    * reps. Phase 2 star-expands each node's rep clique WITHOUT
    * materializing it (per-node min rep + a join back onto the
    * mapping — the same O(1)-state min-join discipline as StarOps) and
    * solves the rep graph — O(tasks x components-per-task) nodes,
    * typically orders of magnitude smaller than the input — with
    * [[runAuto]]: driver
    * union-find when tiny, otherwise the alternating fixpoint, so the
    * reference convergence contract still governs the pairs that
    * remain. Phase 3 joins rep labels back through the per-node
    * min-rep table (`mins`) — the rep side is small, AQE broadcasts
    * it — and the mapping's blocks are freed before phase 3 runs.
    *
    * Exactness: rep(n) <= n and rep(n) is connected to n, so a
    * component's minimum rep IS its minimum node (the global min node
    * is its own rep in every task where it appears) — labels are
    * bit-identical to [[run]]'s under any partitioning (CCPropertySpec).
    *
    * Memory: the task-local map costs 16 bytes/slot over the task's
    * DISTINCT nodes. With 128 MB input splits (~8M edges of two
    * bigints) the worst case — every endpoint distinct — is ~256 MB
    * transient; real graphs sit far below because contraction exists
    * precisely when nodes repeat. Size
    * `spark.sql.files.maxPartitionBytes` down if a corpus approaches
    * the worst case.
    *
    * `iterations` and `rounds` report the inner solve's fixpoint rounds
    * (0 and empty on the driver path); `converged` is the inner solve's
    * flag.
    *
    * Measured caveat (CCScaleProbe, SCALE.md round 4): contraction is a
    * data-LAYOUT bet. Edges grouped by origin (per-order clique
    * expansion, per-block generation) contract ~300:1 and the inner
    * solve converges in one round; edges scattered round-robin contract
    * only ~1.3:1, and the plain [[run]] fixpoint is as fast or faster
    * up to ~100M edges. Both paths are label-exact under any
    * partitioning, so the choice is pure performance.
    */
  def runContracted(edges: DataFrame, maxIterations: Int = 20,
                    smallGraphThreshold: Long = 4L << 20): CCResult = {
    val spark = edges.sparkSession
    import spark.implicits._
    val mapping = edges.select(
        col("src").cast("bigint"), col("dst").cast("bigint"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val uf = new LocalUnionFind(1 << 12)
        it.foreach { case (a, b) => uf.union(a, b) }
        uf.iterator
      }
      .toDF("node", "rep")
      .localCheckpoint(false, StorageLevel.MEMORY_AND_DISK_SER)
    // A node's reps across tasks form a clique; the star expansion of
    // that clique is just (rep, min rep) per mapping row — so phase 2
    // needs only the per-node MIN rep (a combinable O(1)-state
    // aggregate) joined back onto the mapping, never the rep SET.
    // This is the same min-join discipline as StarOps: the per-key set
    // here is bounded (one rep per task that saw the node), but the
    // MAP-SIDE hash of boxed single-element sets over ~10⁷ keys per
    // task is not — at 1 GB/core the collect_set form this replaces
    // died with AGGREGATE_OUT_OF_MEMORY on the 10⁸-node giant graph
    // while min/join spills and passes (SCALE.md round 11).
    val mins = mapping.groupBy("node")
      .agg(min(col("rep")).as("rep"))
      .localCheckpoint(false, StorageLevel.MEMORY_AND_DISK_SER)
    // Rep-clique star edges: (rep, min rep) per mapping row. Duplicates
    // are fine — runAuto dedups; a singleton node yields its (m, m)
    // self-pair, keeping isolated nodes visible, exactly as the set
    // form's starEdges did.
    val repEdges = mapping
      .join(mins.toDF("node", "m"), "node")
      .select(col("rep").as("src"), col("m").as("dst"))
    val inner = runAuto(repEdges, maxIterations, smallGraphThreshold)
    val labels = mins
      .join(inner.assignments.toDF("rep", "component"), "rep")
      .select(col("node"), col("component"))
    // labels reads only mins + assignments, so the mapping's blocks
    // are dead ONCE mins' lazy checkpoint is materialized. Today
    // runAuto materializes it transitively (its eager input checkpoint
    // reads repEdges, which reads mins), but nothing in runAuto's
    // contract promises that — so pin the invariant locally with one
    // node-scale action against the (already-cached) mins before
    // freeing the mapping. localCheckpoint blocks cannot be recomputed;
    // unpersisting them under a still-lazy reader is a job failure,
    // not a slowdown (ADVICE r11). Free through the checkpoint RDD —
    // Dataset.unpersist is a no-op on a localCheckpoint (same
    // discipline as the fixpoint loop).
    mins.count()
    checkpointRdd(mapping).foreach(_.unpersist(false))
    CCResult(labels, inner.converged, inner.iterations, inner.rounds)
  }

  /** Mutable long-keyed union-find (union-by-min roots + full path
    * compression; iterative find so adversarial chains can't blow the
    * stack) over [[LongLongMap]] — the working set of [[runAuto]]'s
    * driver path and of each [[runContracted]] task.
    */
  private[cc] final class LocalUnionFind(initialCapacity: Int) {
    private val parent = new LongLongMap(initialCapacity)
    def find(x: Long): Long = {
      var r = x
      var p = parent.getOrPut(r, r)
      while (p != r) { r = p; p = parent.getOrPut(r, r) }
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent.put(c, r); c = nxt }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    /** (node, root) for every node ever seen. Path compression during
      * iteration only rewrites existing slots — no rehash, so iterating
      * while compressing is safe.
      */
    def iterator: Iterator[(Long, Long)] =
      parent.keysIterator.map(n => (n, find(n)))
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
