package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The CC benchmark's JVM side. One process runs one workload:
  *
  *   1. host witness (steal, load, CPU microbenchmarks);
  *   2. set-up, `SetupReps` times (each discarding the last);
  *   3. the first op in this fresh JVM (the cold op);
  *   4. a fixed number of warm-up ops per workload (`WarmOps`), chosen
  *      from measured op-time curves so that measured ops sit at the
  *      same positions in every run, whatever the cold op took;
  *   5. measured ops for `--seconds`: untraced, or with `--trace 1`
  *      alternately untraced and traced (starting and ending untraced),
  *      so each traced op's excess over its neighbours gives the
  *      tracing overhead;
  *   6. host witness again, then the result as JSON to `--out`.
  *
  * Every op's output is checked against ground truth; every op's time is
  * written out, with its phase, so drift can be seen.
  */
object Main {
  val SetupReps = 3
  /** Warm-up ops after the cold one, fixed per workload so that measured
    * ops sit at the same positions in every run. On both workloads the
    * first op after the cold one is 15–30 % slower than the next. Grouped
    * is flat after two ops; scatter keeps drifting down a few percent
    * per op, and the run budget leaves it room for one warm-up. */
  val WarmOps: Map[String, Int] = Map("scatter" -> 1, "grouped" -> 2)
  val MinMeasured = 3

  final case class Record(phase: String, seconds: Double, ok: Boolean, peakBytes: Long)

  def session(localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.default.parallelism", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", localDir + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = session(opt("local-dir"))
    try {
      if (opt.get("selftest").contains("1")) SelfTest.run(spark)
      else {
        val out = run(spark, opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
          opt("trace") == "1")
        val json = new ObjectMapper().registerModule(DefaultScalaModule)
        json.writeValue(new java.io.File(opt("out")), out)
      }
    } finally spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double,
          trace: Boolean): Map[String, Any] = {
    val hostStart = Witness.take()
    val sc = spark.sparkContext
    val meter = new StorageMeter(sc)
    val w = Workload(name, spark, seed)
    val setupS = (1 to SetupReps).map { i =>
      if (i > 1) w.release()
      val t0 = System.nanoTime()
      w.setup()
      (System.nanoTime() - t0) / 1e9
    }
    val tracer = if (trace) Some(new Tracer(sc)) else None
    val records = mutable.ArrayBuffer.empty[Record]

    def op(phase: String, traced: Boolean): Record = {
      val before = sc.getPersistentRDDs.keySet
      meter.reset()
      val o = w.op(if (traced) tracer else None)
      val peak = meter.peakAboveBase()
      // Free whatever the op cached or checkpointed and did not hand on,
      // then collect garbage, so every op starts from the same state.
      spark.catalog.clearCache()
      val keep = before ++ w.retained
      sc.getPersistentRDDs.foreach { case (id, rdd) => if (!keep(id)) rdd.unpersist(true) }
      System.gc()
      val r = Record(phase, o.seconds, o.ok, peak)
      records += r
      r
    }

    val cold = op("cold", traced = false)
    val warm = (1 to WarmOps(name)).map(_ => op("warmup", traced = false).seconds)

    val measureStart = System.nanoTime()
    var k = 0
    while ((System.nanoTime() - measureStart) / 1e9 < seconds || k < MinMeasured ||
           (trace && k % 2 == 0)) {
      if (trace && k % 2 == 1) op("traced", traced = true) else op("measure", traced = false)
      k += 1
    }
    val hostEnd = Witness.take()

    val measured = records.filter(_.phase == "measure")
    val opS = median(measured.map(_.seconds).toSeq)
    val MiB = 1024.0 * 1024.0
    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => Seq(
        ("setup_s", median(setupS), "s"),
        ("solve_s", opS, "s"),
        ("peak_storage_mb", median(measured.map(_.peakBytes / MiB).toSeq), "MiB"))
      case Some(t) => Layers.metrics(t)
    }
    val ctx = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "setup_runs_s" -> setupS, "cold_solve_s" -> cold.seconds, "warm_ops" -> warm.length,
      // Last warm-up op against the measured median: the drift left.
      "warm_drift" -> (warm.last - opS) / opS,
      "steal_pct" -> Witness.stealPct(hostStart, hostEnd)) ++ w.context
    tracer.foreach { _ =>
      // Measured ops run untraced, traced, untraced, ...: each traced op
      // is compared with the mean of its two untraced neighbours, which
      // cancels a linear drift in op time.
      val seq = records.filter(r => r.phase == "measure" || r.phase == "traced").toSeq
      val diffs = seq.indices.collect { case i if seq(i).phase == "traced" =>
        seq(i).seconds - (seq(i - 1).seconds + seq(i + 1).seconds) / 2 }
      ctx("trace_overhead_s") = median(diffs)
      ctx("traced_solve_s") = median(records.filter(_.phase == "traced").map(_.seconds).toSeq)
      ctx("untraced_solve_s") = opS
    }
    Map(
      "attempted" -> records.length,
      "failed" -> records.count(!_.ok),
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "context" -> ctx.toMap,
      "ops" -> records.map(r => Map("phase" -> r.phase, "s" -> r.seconds, "ok" -> r.ok,
        "peak_mb" -> r.peakBytes / MiB)).toSeq,
      "host" -> Map("start" -> hostStart, "end" -> hostEnd),
      "session" -> spark.conf.getAll,
      "jvm" -> Map(
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / MiB,
        "args" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
          .toArray.toSeq),
      "spans" -> tracer.map(_.json).getOrElse(Nil))
  }
}

/** Per-layer metrics from the spans: for each layer prefix, the median
  * of each counter over that layer's spans (zeros where the workload
  * does not call the layer), plus the layer counts.
  */
object Layers {
  val prefixes: Seq[String] = Seq("star", "fixpoint", "contract", "expand", "delta")
  val counts: Map[String, Seq[String]] = Map(
    "star" -> Seq("pairs_in", "pairs_out", "large_changes", "small_changes"),
    "fixpoint" -> Seq("rounds"),
    "contract" -> Seq("inner_rounds"),
    "expand" -> Seq("edges_out"),
    "delta" -> Seq("edges_in"))

  def metrics(t: Tracer): Seq[(String, Double, String)] = prefixes.flatMap { p =>
    val spans = t.spans.filter(_.name == p).toSeq
    val counters = new Span(0, p, None).metrics.map { case (n, _, u) =>
      (s"$p.$n", Main.median(spans.map(_.metrics.find(_._1 == n).get._2)), u)
    }
    val layerCounts = counts(p).map { c =>
      (s"$p.$c", Main.median(spans.map(_.counts.getOrElse(c, 0.0))), "count")
    }
    (counters ++ layerCounts).map { case (n, v, u) => (n, if (v.isNaN) 0.0 else v, u) }
  }
}

/** Host witness: CPU steal and total jiffies from /proc/stat, the load
  * average, and the engine's fixed-instruction CPU microbenchmarks.
  */
object Witness {
  private def read(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p)), UTF_8) catch { case _: Exception => "" }

  def take(): Map[String, Any] = {
    val cpu = read("/proc/stat").linesIterator.toSeq.headOption.toSeq
      .flatMap(_.trim.split("\\s+").drop(1).take(8).map(_.toLong))
    Map(
      "steal_jiffies" -> cpu.lift(7).getOrElse(-1L),
      "total_jiffies" -> (if (cpu.isEmpty) -1L else cpu.sum),
      "loadavg" -> read("/proc/loadavg").trim,
      "cpu_microbench_s" -> graft.Bench.cpuMicrobench(),
      "cpu_microbench_mt_s" -> graft.Bench.cpuMicrobenchMt())
  }

  /** Hypervisor steal between two witnesses, as a share of all CPU time. */
  def stealPct(a: Map[String, Any], b: Map[String, Any]): Double = {
    def d(k: String): Long = b(k).asInstanceOf[Long] - a(k).asInstanceOf[Long]
    if (d("total_jiffies") > 0) 100.0 * d("steal_jiffies") / d("total_jiffies") else Double.NaN
  }
}
