package graft.queries

/** Scratch-space root for engine-internal staging files and finite-replay
  * streaming checkpoints (r15, guide §6 "I/O and file layout").
  *
  * Why this exists: the streaming rows' staged micro-batch files, their
  * offset/commit logs and their state-store files all lived under
  * `java.io.tmpdir` (/tmp), which on this host is a co-tenant-shared
  * block device. Probing the stream-stream joins showed the join tasks
  * blocked, not computing (stage dump: runMs 5956 vs cpuMs 1003 on one
  * micro-batch stage), and a same-window A/B moving the scratch to
  * tmpfs cut `stream_interval_join` 7.9→2.9 s and `stream_outer_join`
  * 8.1→3.3 s while collapsing their rep variance (disk reps 6.0–15.0 s
  * on `stream_chained_windows`; tmpfs reps 3.3–3.6 s). Spark's own docs
  * say scratch "should be on a fast, local disk in your system" — on a
  * RAM-rich box with a contended virtual disk, that is tmpfs.
  *
  * Resolution order (first writable wins):
  *   1. `$SPARK_GRAFT_SCRATCH` — the cluster-deployment override: at
  *      real scale point this at the executor-local NVMe volume;
  *      durability for RESTARTABLE streams comes from putting their
  *      checkpoints on a reliable FS, which these finite-replay bench
  *      rows deliberately do not need (each run replays from the
  *      parquet inputs and wipes/regenerates its staging and
  *      checkpoint dirs — nothing is reused across runs).
  *   2. `/dev/shm` — Linux tmpfs, present and sized to half of RAM by
  *      default; right for the ≤ tens-of-MB scratch this suite writes.
  *   3. `java.io.tmpdir` — the pre-r15 behavior, kept as the fallback.
  *
  * The graded streaming queries whose checkpoint IS the semantics
  * (stream_checkpoint_recovery's resume, stream_state_reader's state
  * files) keep managing their own dirs — they only rebase onto this
  * root, their lifecycle is unchanged.
  */
object Scratch {
  lazy val root: java.nio.file.Path = {
    val candidates =
      sys.env.get("SPARK_GRAFT_SCRATCH")
        .map(java.nio.file.Paths.get(_)).toSeq ++
      Seq(java.nio.file.Paths.get("/dev/shm"),
          java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    val base = candidates.find { p =>
      try {
        java.nio.file.Files.createDirectories(p)
        java.nio.file.Files.isWritable(p)
      } catch { case _: Throwable => false }
    }.getOrElse(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    val r = base.resolve("graft-scratch")
    java.nio.file.Files.createDirectories(r)
    r
  }

  /** Recursive delete that throws on failure: for dirs whose leftovers
    * would change a result (a stream must not resume from a stale
    * checkpoint, a table must not keep a stale version). A missing dir
    * is already wiped.
    */
  def wipe(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
      finally walk.close()
    }

  /** Recursive delete; silent on races (scratch hygiene, not a gate). */
  def deleteRec(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach { f =>
        try java.nio.file.Files.delete(f)
        catch { case _: java.io.IOException => () }
      } finally walk.close()
    }
}
