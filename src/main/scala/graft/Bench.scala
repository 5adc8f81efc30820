package graft
object Bench {
  // Digest sink so the JIT can never elide the timed loop. Atomic: the
  // multi-core witness runs cpuMicrobench from up to 16 threads at once,
  // and a plain volatile ^= is a lost-update race (ADVICE r14) — harmless
  // while the value is only a DCE sink, but cheap to make correct.
  private val microSink = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Fixed-instruction single-thread CPU wall: MD5 over a 64 KiB
    * deterministic buffer, 8192 timed iterations (512 MiB digested)
    * after a 512-iteration untimed JIT warm pass. Same instructions
    * every run — the measured seconds move only when the host's
    * per-core throughput does, which is exactly the drift signal the
    * bench needs recorded (SCALE.md r13: ±15% between windows with
    * zero steal and loadavg ~0).
    */
  def cpuMicrobench(): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = new Array[Byte](65536)
    var i = 0
    while (i < buf.length) { buf(i) = (i * 31).toByte; i += 1 }
    var j = 0
    while (j < 512) { md.update(buf); j += 1 }
    microSink.getAndAccumulate(java.util.Arrays.hashCode(md.digest()), _ ^ _)
    val t0 = System.nanoTime()
    j = 0
    while (j < 8192) { md.update(buf); j += 1 }
    microSink.getAndAccumulate(java.util.Arrays.hashCode(md.digest()), _ ^ _)
    (System.nanoTime() - t0) / 1e9
  }

  /** Multi-core clock witness: the SAME fixed-instruction loop on
    * min(16, cores) threads at once, reporting the slowest thread's
    * wall. The single-thread witness misses the host axis that
    * actually bends this suite: a co-tenant stealing CORES inflates
    * parallel iterative queries 2–4× while per-core throughput reads
    * normal (r14 resumed session: a 265 s window whose 30 "regressed"
    * movers all re-probed at baseline minutes later — every one a
    * many-task shape, witness 0.97 s ≈ normal). Under core theft the
    * threads contend and the slowest-thread wall rises; quiet, it
    * tracks the single-thread number. Additive JSON fields
    * (`microbench_mt_*`); scripts/bench_diff.py reads them when
    * present.
    */
  def cpuMicrobenchMt(): Double = {
    val n = math.min(16, Runtime.getRuntime.availableProcessors())
    val walls = new Array[Double](n)
    val ts = (0 until n).map { k =>
      new Thread(() => { walls(k) = cpuMicrobench() })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    walls.max
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Median-of-N per query (default 3): the r3 record was captured in a
    // noisy host window that inflated the long shuffle-heavy queries
    // 2-4x; a per-query median discards a one-off slow rep instead of
    // recording it forever. SPARK_GRAFT_BENCH_REPS=1 restores the old
    // single-shot behavior.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // Mirror file for the JSON result line. Resolved against an explicit
    // env var, falling back to the JVM's working directory (the sbt build
    // root when run via `sbt run`); deleted up front so a crashed run
    // can't leave a stale mirror for a line-parser fallback to pick up.
    val benchOut = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        sys.props("user.dir") + "/bench.json"))
    java.nio.file.Files.deleteIfExists(benchOut)
    // Host-contention evidence (VERDICT r9 #1): the r9 driver window read
    // 432.7s while the same-code quiet bench read 223.3s, and the driver's
    // stdout tail truncated before ~220 of 282 per-query rows — leaving the
    // 2x headline unfalsifiable from artifacts. Every run now also writes
    // the COMPLETE per-query map plus the host's /proc/loadavg sampled at
    // start and end to a committed-path artifact (scripts/bench_last.json
    // under the build root), so a slow window can always be localized to
    // either a named query regression or a loaded host.
    def loadavg(): String =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").trim
      catch { case _: Throwable => "unavailable" }
    // Hypervisor-steal witness: loadavg only counts THIS kernel's
    // runnable tasks and the md5 witnesses only sample instants — a
    // co-tenant stealing cycles mid-run is invisible to both (the r14
    // resumed session saw three 1.3-1.5x-inflated runs whose start
    // witnesses all read normal). /proc/stat's steal field is the
    // hypervisor's own account, integrated over the whole run:
    // (Δsteal / Δtotal) across start→end brackets every query.
    // Fields 0-7 only (user nice system idle iowait irq softirq steal):
    // guest/guest_nice (8-9) are already folded into user/nice by the
    // kernel, so summing them double-counts and understates steal_pct
    // (ADVICE r14). Files.readAllBytes also avoids the leaked Source fd.
    def cpuJiffies(): (Long, Long) =
      try {
        val line = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/stat")), "UTF-8")
          .linesIterator.next()
        val cpu = line.trim.split("\\s+").drop(1).take(8).map(_.toLong)
        (cpu(7), cpu.sum) // (steal, total)
      } catch { case _: Throwable => (-1L, -1L) }
    val loadStart = loadavg()
    val jifStart = cpuJiffies()
    // Pinned single-thread CPU microbench (VERDICT r13 #1): the same
    // fixed-instruction md5 loop rounds 11-13 ran by hand to prove the
    // host's per-core wall drifts ±15% between windows with zero
    // hypervisor steal. Recording it at start AND end of every run
    // makes each bench JSON carry its own clock witness, so
    // scripts/bench_diff.py can separate code from clock without the
    // hand forensics. 8192 × 64 KiB = 512 MiB digested; ~0.8s on this
    // box's fast clock, ~0.9s on its slow one. A short untimed warm
    // pass settles the JIT so the number measures the core, not the
    // compiler.
    val microStart = cpuMicrobench()
    val microMtStart = cpuMicrobenchMt()
    val wallStart = java.time.Instant.now().toString
    val fullOut = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL_OUT",
        sys.props("user.dir") + "/scripts/bench_last.json"))
    val spark = Harness.session(sfDir)
    Harness.warmUp(spark, sfDir)
    val prewarmRows = Harness.prewarm(spark, sfDir)
    // A failed query is recorded as -1 (visible in the JSON) and kept
    // out of the total — silently charging its elapsed time would make
    // a broken suite look fast.
    //
    // Sorted by name: Map iteration order changes whenever a query is
    // added, which made per-query times incomparable across rounds.
    def medianOf(xs: Seq[Double]): Double = {
      val s = xs.sorted
      s(s.size / 2) // odd reps: middle; even: upper median (conservative)
    }
    val timed = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val times = (1 to reps).flatMap { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch {
          case t: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${t.getMessage}")
            None
        }
      }
      name -> (if (times.size == reps) medianOf(times) else -1.0)
    }
    val results = prewarmRows ++ timed
    // End-of-run clock witness. The Spark session is idle here (all
    // queries complete), so the loop is effectively single-threaded;
    // measuring before the JSON lines keeps both artifacts complete.
    val microEnd = cpuMicrobench()
    val microMtEnd = cpuMicrobenchMt()
    val jifEnd = cpuJiffies()
    // Whole-run hypervisor steal as a percentage of all cpu time the
    // host accounted to this guest's window; -1 when /proc/stat is
    // unreadable or the counters did not advance.
    val stealPct: Double = {
      val ds = jifEnd._1 - jifStart._1
      val dt = jifEnd._2 - jifStart._2
      if (jifStart._1 < 0 || jifEnd._1 < 0 || dt <= 0) -1.0
      else math.rint(10000.0 * ds / dt) / 100.0
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // The driver's committed BENCH_r{N}.json derives from this line —
    // carrying the clock witness here means every driver-window
    // artifact can be drift-normalized by scripts/bench_diff.py.
    val json = f"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"microbench_start_sec":$microStart%.4f,"microbench_end_sec":$microEnd%.4f,"microbench_mt_start_sec":$microMtStart%.4f,"microbench_mt_end_sec":$microMtEnd%.4f,"queries":$qs,"sf":"$sfDir"}"""
    println(json)
    // The per-query line above is one very long JSON line; in r5 the
    // driver's stdout-tail parser clipped it and recorded parsed:null.
    // A second, short totals-only line printed LAST survives any tail
    // truncation that still contains the end of the stream.
    val nFailed = timed.count(_._2 < 0)
    // Distinct metric name so a parser keying on metric:"total" can only
    // ever pick the full per-query record above (ADVICE r6).
    println(f"""{"metric":"total_summary","value":$total,"unit":"sec","reps":$reps,"n":${results.size},"failed":$nFailed,"microbench_start_sec":$microStart%.4f,"microbench_end_sec":$microEnd%.4f,"microbench_mt_start_sec":$microMtStart%.4f,"microbench_mt_end_sec":$microMtEnd%.4f,"sf":"$sfDir"}""")
    // Belt and braces: the build routes forked stdout through verbatim
    // (run / outputStrategy := StdoutOutput), and the full line is also
    // mirrored to a file the driver can read directly.
    java.nio.file.Files.write(benchOut, (json + "\n").getBytes("UTF-8"))
    // The committed evidence artifact: full per-query map, load averages at
    // start/end, wall-clock bounds, failure count. Survives any stdout-tail
    // truncation in the driver's parser.
    val fullJson =
      s"""{"metric":"bench_full","value":$total,"unit":"sec","reps":$reps,""" +
      s""""n":${results.size},"failed":$nFailed,"cpus":"${Harness.cpus}",""" +
      s""""wall_start":"$wallStart","wall_end":"${java.time.Instant.now().toString}",""" +
      s""""loadavg_start":"$loadStart","loadavg_end":"${loadavg()}",""" +
      f""""microbench_start_sec":$microStart%.4f,"microbench_end_sec":$microEnd%.4f,""" +
      f""""microbench_mt_start_sec":$microMtStart%.4f,"microbench_mt_end_sec":$microMtEnd%.4f,""" +
      s""""steal_pct":$stealPct,""" +
      s""""queries":$qs,"sf":"$sfDir"}"""
    try {
      val parent = fullOut.getParent
      if (parent != null) java.nio.file.Files.createDirectories(parent)
      java.nio.file.Files.write(fullOut, (fullJson + "\n").getBytes("UTF-8"))
    } catch { case t: Throwable =>
      System.err.println(s"[bench] could not write $fullOut: ${t.getMessage}")
    }
    spark.stop()
  }
}
