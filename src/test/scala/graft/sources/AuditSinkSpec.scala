package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.queries.Scratch

/** Pins the V2 write path's transactional semantics — the parts the
  * hash gate can't see: manifest-as-commit bookkeeping, checksum
  * order-insensitivity, abort cleanup, re-commit atomicity,
  * crash-window snapshot preservation (publish-then-GC), and NULL
  * fail-fast.
  */
class AuditSinkSpec extends SparkSpec with BeforeAndAfterAll {

  /** One fresh dir below the scratch root holds this suite's dirs, so
    * two JVMs never share them; it is removed after the suite.
    */
  private lazy val root = Files.createTempDirectory(Scratch.root, "graft_audit_spec")

  override def afterAll(): Unit = try Scratch.deleteRec(root) finally super.afterAll()

  private def freshDir(tag: String): String = root.resolve(tag).toString

  private def writeRange(dir: String, n: Long, parts: Int): Unit =
    spark.range(0, n, 1, parts)
      .select(col("id").as("a"), (col("id") * 7L).as("b"))
      .write.format("graft.sources.AuditSink")
      .option("path", dir).mode("append").save()

  private def readCommitted(dir: String) =
    spark.read.schema("a LONG, b LONG")
      .csv(AuditSink.committedParts(dir).map(_.toString): _*)

  test("roundtrip: rows, manifest totals, and checksum all agree") {
    val dir = freshDir("roundtrip")
    writeRange(dir, 1000L, 4)
    val back = readCommitted(dir).collect()
    assert(back.length === 1000)
    assert(back.map(_.getLong(0)).sorted.toSeq === (0L until 1000L).toSeq)
    val (version, totalRows, totalSum) = AuditSink.manifestTotals(dir)
    assert(version === 0L && totalRows === 1000L)
    val expected = back.map(r => AuditSink.rowHash(Seq(r.getLong(0),
      r.getLong(1)))).foldLeft(0L)(_ ^ _)
    assert(totalSum === expected)
    // per-part rows (manifest body between VERSION head and TOTAL tail)
    val lines = Files.readAllLines(AuditSink.manifestOf(dir).get)
    val partRows = (1 until lines.size - 1)
      .map(i => lines.get(i).split("\t")(1).toLong)
    assert(partRows.sum === 1000L)
    assert(partRows.size === AuditSink.committedParts(dir).size)
  }

  test("the checksum is order- and partitioning-insensitive") {
    val h1 = Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L, 6L))
      .map(AuditSink.rowHash).foldLeft(0L)(_ ^ _)
    val h2 = Seq(Seq(5L, 6L), Seq(1L, 2L), Seq(3L, 4L))
      .map(AuditSink.rowHash).foldLeft(0L)(_ ^ _)
    assert(h1 === h2)
    // but NOT value-insensitive: swapping columns changes it
    assert(AuditSink.rowHash(Seq(1L, 2L)) !== AuditSink.rowHash(Seq(2L, 1L)))
  }

  test("a second write replaces the first atomically (no stale parts)") {
    val dir = freshDir("recommit")
    writeRange(dir, 1000L, 4)
    writeRange(dir, 10L, 2)
    assert(readCommitted(dir).count() === 10L)
    val (version, totalRows, _) = AuditSink.manifestTotals(dir)
    assert(version === 1L && totalRows === 10L)
    // post-publish GC: the v0 parts are gone from disk too
    val listing = Files.list(Paths.get(dir))
    try {
      val names = listing.iterator()
      var stale = List.empty[String]
      while (names.hasNext) {
        val n = names.next().getFileName.toString
        n match {
          case AuditSink.PartName(v) if v.toLong < 1L => stale ::= n
          case _ =>
        }
      }
      assert(stale.isEmpty, s"stale parts survived GC: $stale")
    } finally listing.close()
  }

  test("a crash between part-move and manifest swap preserves the " +
       "previous snapshot for manifest-driven readers") {
    val dir = freshDir("crashwindow")
    writeRange(dir, 100L, 2)
    val before = AuditSink.manifestTotals(dir)
    // simulate a commit that crashed after moving its parts but before
    // publishing: orphan v1 parts appear, manifest untouched
    Files.write(Paths.get(dir, "part-v000001-deadbeef-00000.csv"),
      "999,999\n".getBytes(UTF_8))
    assert(AuditSink.manifestTotals(dir) === before)
    assert(readCommitted(dir).count() === 100L,
      "manifest-driven read must not see the crashed commit's orphan")
    // the next successful commit skips past the orphan's version and
    // GCs it
    writeRange(dir, 5L, 1)
    val (version, totalRows, _) = AuditSink.manifestTotals(dir)
    assert(version === 2L && totalRows === 5L)
    assert(readCommitted(dir).count() === 5L)
    assert(!Files.exists(Paths.get(dir, "part-v000001-deadbeef-00000.csv")),
      "post-publish GC should remove the crashed commit's orphan")
  }

  test("abort removes the attempt file; commit-side abort is a no-op") {
    val dir = freshDir("abort")
    val w = new AuditWriter(dir, 2, 7, 42L)
    w.write(org.apache.spark.sql.catalyst.InternalRow(1L, 2L))
    w.abort()
    val tmp = Paths.get(dir, "_temporary")
    val left = Files.list(tmp)
    try assert(left.count() === 0L, "abort left an attempt file behind")
    finally left.close()
  }

  test("a concurrent committer fails LOUDLY instead of racing the " +
       "version pick (single-writer-per-commit contract)") {
    val dir = freshDir("concurrent")
    writeRange(dir, 100L, 2)
    // simulate committer A mid-commit: its _COMMIT.lock is live
    val lock = Paths.get(dir, "_COMMIT.lock")
    Files.createFile(lock)
    val e = intercept[Exception] { writeRange(dir, 50L, 2) }
    // Spark wraps the driver-side commit failure; the root cause names
    // the contract
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      c.getMessage != null && c.getMessage.contains("concurrent committer")),
      e.toString)
    // the loser left no damage: the v0 snapshot still reads complete
    assert(readCommitted(dir).count() === 100L)
    val (v, rows, _) = AuditSink.manifestTotals(dir)
    assert(v === 0L && rows === 100L)
    Files.delete(lock)
    // with the lock gone the next commit proceeds and replaces
    writeRange(dir, 50L, 2)
    assert(readCommitted(dir).count() === 50L)
  }

  test("two GENUINELY concurrent committers never corrupt a snapshot: " +
       "each outcome is a complete, self-consistent version") {
    // Not a simulation: two driver threads race real write().save()
    // calls into one directory, repeatedly. Allowed outcomes per race:
    // both serialize (lock held briefly) or the loser fails loudly.
    // The invariant under test: the PUBLISHED manifest always names
    // parts that exist, with rows/checksum matching exactly one
    // writer's complete dataset — never an interleaved mixture.
    val dir = freshDir("race")
    val nA = 400L; val nB = 700L
    for (round <- 1 to 4) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      def attempt(n: Long) = scala.concurrent.Future {
        try { writeRange(dir, n, 2); None }
        catch { case e: Exception => Some(e) }
      }
      val (ra, rb) = (attempt(nA), attempt(nB))
      import scala.concurrent.duration._
      val outcomes = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(Seq(ra, rb)), 120.seconds)
      pool.shutdown()
      // any failure must be the loud concurrent-committer contract
      // (or Spark's job-abort wrapper around it), never silence
      outcomes.flatten.foreach { e =>
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Seq.empty
          else Option(t.getMessage).toSeq ++ msgs(t.getCause)
        assert(msgs(e).exists(_.contains("concurrent committer")) ||
               msgs(e).exists(_.contains("Writing job aborted")),
          s"round $round unexpected failure: $e")
      }
      // the published snapshot is complete and self-consistent
      val parts = AuditSink.committedParts(dir)
      parts.foreach(p => assert(Files.exists(p), s"manifest names missing $p"))
      val (_, totalRows, totalSum) = AuditSink.manifestTotals(dir)
      assert(totalRows === nA || totalRows === nB,
        s"round $round: mixed snapshot? rows=$totalRows")
      val back = readCommitted(dir).collect()
      assert(back.length.toLong === totalRows)
      val recomputed = back.map(r =>
        AuditSink.rowHash(Seq(r.getLong(0), r.getLong(1))))
        .foldLeft(0L)(_ ^ _)
      assert(recomputed === totalSum,
        s"round $round: manifest checksum does not describe disk bytes")
    }
  }

  test("a committer paused past StaleLockMs loses LOUDLY at the fence; " +
       "the successor's snapshot survives untouched") {
    // Committer A runs a REAL write().save() but its driver-side commit
    // blocks at the pre-publish hook (parts moved, manifest temp
    // written, fence not yet checked) — the GC-pause / NFS-hang shape.
    // While A hangs, its lock is backdated past StaleLockMs and
    // committer B commits for real: B breaks A's stale lock, publishes,
    // releases. A then resumes, and the fence must abort it loudly —
    // with token-unique part names, A's earlier moves cannot have
    // touched B's files, so B's published snapshot must verify clean.
    val dir = freshDir("fence")
    val gate = new java.util.concurrent.CountDownLatch(1)
    val parked = new java.util.concurrent.CountDownLatch(1)
    AuditBatchWrite.prePublishHook = () => { parked.countDown(); gate.await() }
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val a = scala.concurrent.Future {
        try { writeRange(dir, 400L, 2); None }
        catch { case e: Exception => Some(e) }
      }
      assert(parked.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "committer A never reached the pre-publish hook")
      // A is now paused mid-commit; age its lock past the break horizon
      val lock = Paths.get(dir, "_COMMIT.lock")
      Files.setLastModifiedTime(lock, java.nio.file.attribute.FileTime
        .fromMillis(System.currentTimeMillis() - AuditSink.StaleLockMs - 60000L))
      // B must not hit the hook — restore it before B commits
      AuditBatchWrite.prePublishHook = () => ()
      writeRange(dir, 77L, 2) // breaks A's stale lock, publishes, releases
      val (vB, rowsB, sumB) = AuditSink.manifestTotals(dir)
      assert(rowsB === 77L)
      gate.countDown() // wake A: it must fence-abort, not publish
      import scala.concurrent.duration._
      val outcome = scala.concurrent.Await.result(a, 120.seconds)
      pool.shutdown()
      assert(outcome.isDefined, "paused committer A published after losing its lock")
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(outcome.get).exists(_.contains("commit fenced")) ||
             msgs(outcome.get).exists(_.contains("Writing job aborted")),
        s"expected the fence abort, got: ${outcome.get}")
      // B's snapshot is still the published one and verifies bit-exact
      assert(AuditSink.manifestTotals(dir) === ((vB, rowsB, sumB)))
      val back = readCommitted(dir).collect()
      assert(back.length === 77)
      val recomputed = back.map(r =>
        AuditSink.rowHash(Seq(r.getLong(0), r.getLong(1)))).foldLeft(0L)(_ ^ _)
      assert(recomputed === sumB,
        "paused committer's part moves corrupted the successor's snapshot")
    } finally AuditBatchWrite.prePublishHook = () => ()
  }

  test("a crashed committer's stale lock is broken automatically") {
    val dir = freshDir("stalelock")
    writeRange(dir, 100L, 2)
    val lock = Paths.get(dir, "_COMMIT.lock")
    Files.createFile(lock)
    Files.setLastModifiedTime(lock, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - AuditSink.StaleLockMs - 60000L))
    writeRange(dir, 30L, 2) // breaks the stale lock, commits v1
    assert(readCommitted(dir).count() === 30L)
    val (v, rows, _) = AuditSink.manifestTotals(dir)
    assert(v === 1L && rows === 30L)
    // and the new commit cleaned its own lock up
    assert(!Files.exists(lock))
  }

  test("non-long schemas are rejected loudly") {
    val e = intercept[IllegalArgumentException] {
      spark.range(1).select(col("id").cast("string").as("s"))
        .write.format("graft.sources.AuditSink")
        .option("path", freshDir("badschema")).mode("append").save()
    }
    assert(e.getMessage.contains("LONG columns only"))
  }

  test("a NULL long fails the write loudly instead of corrupting bytes") {
    val dir = freshDir("nullrow")
    val e = intercept[Exception] {
      spark.range(4)
        .select(col("id").as("a"),
          when(col("id") === 2L, lit(null)).otherwise(col("id"))
            .cast("long").as("b"))
        .write.format("graft.sources.AuditSink")
        .option("path", dir).mode("append").save()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => c.getMessage != null &&
        c.getMessage.contains("NULL in LONG column")),
      s"expected the NULL fail-fast message, got: ${e.getMessage}")
    // nothing was published
    assert(AuditSink.manifestOf(dir).isEmpty)
  }

  test("publication is filesystem-arbitrated: of two committers holding " +
       "the same version number, exactly one publishes (O_EXCL claim)") {
    // The window this closes (r11 verdict #7): a committer that stalls
    // EXACTLY between the fence read and the publish syscalls. Simulate
    // the collision directly at the publication primitive: two fully
    // written manifest temps contending for one version number.
    val dir = freshDir("claim")
    val base = Paths.get(dir)
    Files.createDirectories(base)
    val winTmp = base.resolve("_MANIFEST.tmp-win")
    Files.write(winTmp, "VERSION\t5\nTOTAL\t0\t0\n".getBytes(UTF_8))
    AuditSink.publishManifest(base, 5L, "winner-token", winTmp)
    val loseTmp = base.resolve("_MANIFEST.tmp-lose")
    Files.write(loseTmp, "VERSION\t5\nTOTAL\t9\t9\n".getBytes(UTF_8))
    val e = intercept[IllegalStateException] {
      AuditSink.publishManifest(base, 5L, "loser-token", loseTmp)
    }
    assert(e.getMessage.contains("already claimed"))
    // the winner's manifest is live and byte-identical to what it wrote
    val m = AuditSink.manifestOf(dir).get
    assert(m.getFileName.toString === "_MANIFEST.v000005")
    assert(new String(Files.readAllBytes(m), UTF_8).contains("TOTAL\t0\t0"))
    // versions are never reused: the next commit skips past both the
    // published manifest and the claim file
    assert(AuditSink.nextVersion(base) === 6L)
    // readers resolve the HIGHEST version: a zombie publishing a
    // superseded number cannot displace the live snapshot
    val oldTmp = base.resolve("_MANIFEST.tmp-old")
    Files.write(oldTmp, "VERSION\t3\nTOTAL\t7\t7\n".getBytes(UTF_8))
    AuditSink.publishManifest(base, 3L, "zombie-token", oldTmp)
    assert(AuditSink.manifestOf(dir).get.getFileName.toString
      === "_MANIFEST.v000005")
  }

  test("reader-vs-GC race: a reader listing at ANY point between a new " +
       "publish and its GC sweep resolves a complete snapshot " +
       "(r12 verdict #6)") {
    val dir = freshDir("readergc")
    writeRange(dir, 100L, 2) // v0 committed
    val v0Parts = AuditSink.committedParts(dir)
    val base = Paths.get(dir)
    // interleaving 1: successor has moved its v1 part and written its
    // manifest temp but NOT published — readers still resolve v0,
    // whose parts are untouched (GC only ever runs after publish)
    Files.write(base.resolve("part-v000001-0123abcd-00000.csv"),
      "7,49\n".getBytes(UTF_8))
    val tmp = base.resolve("_MANIFEST.tmp-0123abcd")
    Files.write(tmp, ("VERSION\t1\npart-v000001-0123abcd-00000.csv\t1\t0\n" +
      "TOTAL\t1\t0\n").getBytes(UTF_8))
    assert(AuditSink.manifestTotals(dir)._1 === 0L)
    assert(readCommitted(dir).count() === 100L)
    // interleaving 2: publish landed, sweep has not — readers resolve
    // the NEW manifest and every part it names exists; the superseded
    // v0 parts are still on disk but invisible to manifest-driven reads
    AuditSink.publishManifest(base, 1L, "tok", tmp)
    assert(AuditSink.manifestTotals(dir)._1 === 1L)
    assert(AuditSink.committedParts(dir).forall(Files.exists(_)))
    assert(v0Parts.forall(Files.exists(_)))
    // interleaving 3: the next full commit publishes v2 AND sweeps —
    // readers resolve v2; all superseded manifests and parts are gone
    writeRange(dir, 5L, 1)
    assert(AuditSink.manifestTotals(dir)._1 === 2L)
    assert(readCommitted(dir).count() === 5L)
    assert(v0Parts.forall(!Files.exists(_)))
    assert(!Files.exists(base.resolve("_MANIFEST.v000000")))
    assert(!Files.exists(base.resolve("_MANIFEST.v000001")))
  }

  test("a pre-versioned-format directory stays readable: plain _MANIFEST " +
       "fallback, removed by GC after the first versioned publish " +
       "(ADVICE r12)") {
    val dir = freshDir("legacy")
    val base = Files.createDirectories(Paths.get(dir))
    // fabricate the pre-r12 layout: same part naming and manifest body,
    // but the manifest file is the unversioned _MANIFEST
    Files.write(base.resolve("part-v000000-00c0ffee-00000.csv"),
      "1,7\n2,14\n".getBytes(UTF_8))
    val sum = AuditSink.rowHash(Seq(1L, 7L)) ^ AuditSink.rowHash(Seq(2L, 14L))
    Files.write(base.resolve("_MANIFEST"),
      (s"VERSION\t0\npart-v000000-00c0ffee-00000.csv\t2\t$sum\n" +
       s"TOTAL\t2\t$sum\n").getBytes(UTF_8))
    assert(AuditSink.manifestOf(dir).get.getFileName.toString === "_MANIFEST")
    assert(AuditSink.manifestTotals(dir) === ((0L, 2L, sum)))
    assert(readCommitted(dir).count() === 2L)
    // the first versioned publish supersedes it: readers switch to the
    // versioned manifest and the sweep removes the legacy file
    writeRange(dir, 5L, 1)
    assert(!Files.exists(base.resolve("_MANIFEST")))
    assert(AuditSink.manifestTotals(dir)._1 === 1L) // legacy v0 part pinned 0
    assert(readCommitted(dir).count() === 5L)
  }

  test("a zombie whose manifest temp was GC'd by its successor aborts " +
       "with the curated fenced-commit error and withdraws its claim " +
       "(ADVICE r12)") {
    val dir = freshDir("zombiegc")
    val base = Files.createDirectories(Paths.get(dir))
    // the successor broke the zombie's stale lock, published v1, and
    // its sweep removed the zombie's _MANIFEST.tmp-*
    val sTmp = base.resolve("_MANIFEST.tmp-succ")
    Files.write(sTmp, "VERSION\t1\nTOTAL\t0\t0\n".getBytes(UTF_8))
    AuditSink.publishManifest(base, 1L, "succ-token", sTmp)
    // the zombie wakes holding version 0 and a vanished move source:
    // its O_EXCL claim WINS (nobody ever claimed 0) but the move must
    // surface as the same curated fenced abort as losing the claim
    val gone = base.resolve("_MANIFEST.tmp-zomb")
    val e = intercept[IllegalStateException] {
      AuditSink.publishManifest(base, 0L, "zombie-token", gone)
    }
    assert(e.getMessage.contains("commit fenced"))
    assert(e.getCause.isInstanceOf[java.nio.file.NoSuchFileException])
    // the just-planted claim was withdrawn, the snapshot is untouched,
    // and version numbering is unaffected
    assert(!Files.exists(base.resolve("_PUBLISH.v000000")))
    assert(AuditSink.manifestOf(dir).get.getFileName.toString
      === "_MANIFEST.v000001")
    assert(AuditSink.nextVersion(base) === 2L)
  }

  test("two PROCESSES racing write().save() never corrupt a snapshot: " +
       "the O_EXCL fences arbitrate across JVMs (VERDICT r13 #5)") {
    // The thread-race spec above exercises the committer contract
    // inside one JVM; the fencing primitive is filesystem-level
    // CREATE_NEW, whose real adversary is a SECOND JVM (a zombie
    // executor's driver, a concurrent job). Fork one: a child process
    // running a real write().save() into the same directory as this
    // session's own save, synchronized by a file barrier so the two
    // commits genuinely overlap. Same invariants as the thread spec:
    // any loss is LOUD, and the published manifest always names parts
    // that exist with rows/checksum matching exactly ONE writer's
    // complete dataset.
    val dir = freshDir("xprocess")
    val nParent = 400L; val nChild = 700L
    val sync = Files.createTempDirectory("graft_audit_xproc")
    val ready = sync.resolve("ready"); val go = sync.resolve("go")
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java")
      .toString
    val child = new ProcessBuilder(javaBin, "-Xmx2g",
        "-cp", System.getProperty("java.class.path"),
        "graft.sources.AuditSinkRaceChild",
        dir, nChild.toString, ready.toString, go.toString)
      .redirectErrorStream(true)
      .redirectOutput(ProcessBuilder.Redirect.to(
        sync.resolve("child.log").toFile))
      .start()
    try {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (!Files.exists(ready) && child.isAlive &&
             System.nanoTime() < deadline) Thread.sleep(20)
      assert(Files.exists(ready), "child session never came up: " +
        new String(Files.readAllBytes(sync.resolve("child.log")), UTF_8)
          .takeRight(2000))
      // release the child and commit concurrently from THIS process
      Files.write(go, Array.empty[Byte])
      val parentLoss =
        try { writeRange(dir, nParent, 2); None }
        catch { case e: Exception => Some(e) }
      assert(child.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
        "child JVM did not finish")
      val code = child.exitValue()
      assert(code == 0 || code == 3, // 3 = loud contract loss
        s"child exited $code (4 = non-contract failure): " +
        new String(Files.readAllBytes(sync.resolve("child.log")), UTF_8)
          .takeRight(2000))
      parentLoss.foreach { e =>
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Seq.empty
          else Option(t.getMessage).toSeq ++ msgs(t.getCause)
        assert(msgs(e).exists(_.contains("concurrent committer")) ||
               msgs(e).exists(_.contains("commit fenced")) ||
               msgs(e).exists(_.contains("Writing job aborted")),
          s"parent failed outside the contract: $e")
      }
      // at least one committer must have published
      assert(parentLoss.isEmpty || code == 0,
        "both committers lost — the race must have a winner")
      // the published snapshot is complete and self-consistent
      val parts = AuditSink.committedParts(dir)
      parts.foreach(p => assert(Files.exists(p), s"manifest names missing $p"))
      val (_, totalRows, totalSum) = AuditSink.manifestTotals(dir)
      assert(totalRows === nParent || totalRows === nChild,
        s"mixed snapshot? rows=$totalRows")
      val back = readCommitted(dir).collect()
      assert(back.length.toLong === totalRows)
      val recomputed = back.map(r =>
        AuditSink.rowHash(Seq(r.getLong(0), r.getLong(1))))
        .foldLeft(0L)(_ ^ _)
      assert(recomputed === totalSum,
        "manifest checksum does not describe disk bytes")
    } finally {
      if (child.isAlive) child.destroyForcibly()
      val w = Files.walk(sync)
      try w.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      finally w.close()
    }
  }
}
