package graft.queries

import org.apache.spark.sql.SparkSession

/** Materialization for memoized derived tables (r14, guide §1.1/§5).
  *
  * Eager local checkpoint, factored out so the storage decision is in
  * ONE place with its measurement history: r14 A/B-tested columnar
  * `cache()` against `localCheckpoint()` for these tables after
  * finding the checkpoint blocks are ~10× the columnar footprint
  * (200 MB vs 38 MB for the 1.8M-row directed edge list, 11 MB in
  * parquet). The columnar variant LOST — per-query wall rose 15-60%
  * (kcore 2.56→3.64 s, shortest_path 2.34→3.35 s, lpa 1.70→3.81 s):
  * the InMemoryTableScan → ColumnarToRow path costs more CPU per
  * rescan than iterating the fat-but-flat checkpointed rows, and the
  * cached tables keep all 32 build partitions where the checkpoint
  * inherits AQE-coalesced ones, tripling per-stage task counts on a
  * suite dominated by per-task fixed costs. Deserialized row blocks +
  * few partitions win for broadcast-probe rescans at this scale; at
  * cluster scale the same tables would be parquet/bucketed tables, not
  * executor-memory pins (SCALE.md).
  *
  * Loop-LOCAL checkpoints (CC fixpoint rounds, BFS frontiers) are not
  * routed through here: they are scanned once or twice and need
  * lineage truncation, not sharing.
  */
private[queries] object Pin {
  def apply(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.localCheckpoint()
}

/** Overlap independent memo builds as concurrent Spark jobs (r14,
  * guide §2.6): actions are only sequential because the driver calls
  * them sequentially, and each build here is a small-data job whose
  * stage tails leave most cores idle — submitting the independent
  * chains from driver threads lets the next build's tasks back-fill
  * executors freed by the current one's tail. FIFO scheduling keeps
  * the earlier chain ahead; at cluster scale the same overlap fills
  * the same tails (same-window A/B against the sequential order:
  * OPTIMIZATION_r14.md item 5, ≈6.9 s of prewarm). Dependent builds
  * stay ordered WITHIN a thread; cross-thread collisions on one memo
  * key block in computeIfAbsent
  * (one build, others wait) — never a duplicate or a wrong result.
  * The first failure is rethrown after all threads finish, so a broken
  * build fails the prewarm row exactly as the sequential form did.
  */
private[graft] object Par {
  def apply(thunks: (() => Unit)*): Unit = {
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val ts = thunks.map { t =>
      val th = new Thread(() =>
        try t() catch {
          case e: Throwable =>
            // Keep every concurrent failure: the first wins the rethrow,
            // later ones ride along as suppressed so a multi-build
            // breakage doesn't lose diagnostics (ADVICE r14).
            if (!err.compareAndSet(null, e)) err.get().addSuppressed(e)
        })
      th.setDaemon(true)
      th.start()
      th
    }
    ts.foreach(_.join())
    if (err.get() != null) throw err.get()
  }
}

/** Per-(session, sfDir) memo for derived tables shared across queries —
  * the pattern [[CCQueries]]'s ccMemo and [[GraphQueries]]'s edgeMemo
  * established, factored out so new shared intermediates (the r5 verdict
  * asked for the incremental-CC base fixpoint and the triangle adjacency)
  * don't copy the boilerplate a fourth time.
  *
  * Bounded: a long-lived service cycling many (session, sf) pairs must
  * not pin checkpointed DataFrames forever; harness runs touch <= 3 sf
  * dirs, so the clear never fires there. Worst case under a race is a
  * recompute, never a wrong result.
  */
private[queries] final class Memo[V] {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), V]()

  def apply(spark: SparkSession, sfDir: String)(
      build: (SparkSession, String) => V): V = {
    if (cache.size > 4) cache.clear()
    cache.computeIfAbsent((spark, sfDir), { case (s, d) => build(s, d) })
  }
}
