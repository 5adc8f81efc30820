package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Round-14 optimization probe: builds the Bench environment
  * ([[graft.Harness]]: session, warm-up, every `_prewarm_*` row) and
  * then either
  *
  *   - `plan <outDir> <suffix> [names…|ALL]` — writes each query's
  *     `explain("formatted")` to `<outDir>/<name>_<suffix>.txt`
  *     (ALL = every non-streaming graded query; streaming queries run
  *     the stream inside the builder, so their "plan" is just the
  *     memory-sink scan and is skipped), or
  *   - `time [names…]` — per query: one warm rep, then
  *     SPARK_GRAFT_REPS (default 5) timed `.count()` reps with a
  *     listener counting jobs / stages / tasks and summing executor
  *     task time across the timed reps. Separates "many tiny jobs"
  *     overhead from real compute (guide §1.1) without the Spark UI, or
  *   - `stages [names…]` — one warmed execution per query with a
  *     per-stage dump (run/CPU/GC ms, shuffle and input bytes).
  *
  * Measurement-only tool — never on a query path.
  */
object OptProbe {

  private final class Counts extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong()
    val stages = new java.util.concurrent.atomic.AtomicLong()
    val tasks = new java.util.concurrent.atomic.AtomicLong()
    val taskTimeMs = new java.util.concurrent.atomic.AtomicLong()
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks.toLong)
      taskTimeMs.addAndGet(s.stageInfo.taskMetrics.executorRunTime)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Bench's session, warm-up and prewarm rows, so per-query numbers
    // measure the query, not the shared memo build it happens to
    // trigger first; the timed rows mirror the bench's _prewarm_* rows.
    val spark = graft.Harness.session(sfDir)
    graft.Harness.warmUp(spark, sfDir)
    graft.Harness.prewarm(spark, sfDir).foreach { case (name, s) =>
      println(f"[prewarm] $name $s%.2f s")
    }

    args.headOption match {
      case Some("plan") =>
        val outDir = java.nio.file.Paths.get(args(1))
        val suffix = args(2)
        java.nio.file.Files.createDirectories(outDir)
        val names =
          if (args.length > 3 && args(3) != "ALL") args.drop(3).toSeq
          else graft.SparkEntry.queries.keys.toSeq.sorted
            .filterNot(_.startsWith("stream_"))
        names.foreach { n =>
          try {
            val df = graft.SparkEntry.queries(n)(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(outDir.resolve(s"${n}_$suffix.txt"),
              txt.getBytes("UTF-8"))
            println(s"[plan] $n ok")
          } catch { case t: Throwable =>
            println(s"[plan] $n FAILED: ${t.getMessage}")
          }
        }
      case Some("time") =>
        val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt
        val names = args.drop(1).toSeq
        names.foreach { n =>
          val fn = graft.SparkEntry.queries(n)
          fn(spark, sfDir).count() // warm (codegen, page cache, memos)
          val c = new Counts
          spark.sparkContext.addSparkListener(c)
          val times = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            (System.nanoTime() - t0) / 1e9
          }
          spark.sparkContext.removeSparkListener(c)
          val med = times.sorted.apply(reps / 2)
          println(f"[time] $n median=$med%.3f times=${times.map(t => f"$t%.2f").mkString(",")} " +
            f"jobs=${c.jobs.get / reps} stages=${c.stages.get / reps} tasks=${c.tasks.get / reps} " +
            f"taskTimeMsPerRep=${c.taskTimeMs.get / reps}")
        }
      case Some("stages") =>
        // One warmed execution per query with a per-stage dump: where the
        // executor CPU actually goes (guide §1.1 without the UI).
        val names = args.drop(1).toSeq
        names.foreach { n =>
          val fn = graft.SparkEntry.queries(n)
          fn(spark, sfDir).count() // warm
          val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
          val l = new SparkListener {
            override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
              val i = s.stageInfo
              val m = i.taskMetrics
              buf.add(f"[stage] $n id=${i.stageId} tasks=${i.numTasks} " +
                f"runMs=${m.executorRunTime} cpuMs=${m.executorCpuTime / 1000000} " +
                f"gcMs=${m.jvmGCTime} deserMs=${m.executorDeserializeTime} " +
                f"shRead=${m.shuffleReadMetrics.totalBytesRead} " +
                f"shWrite=${m.shuffleWriteMetrics.bytesWritten} " +
                f"in=${m.inputMetrics.bytesRead} name=${i.name.take(90)}")
            }
          }
          spark.sparkContext.addSparkListener(l)
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          val wall = (System.nanoTime() - t0) / 1e9
          Thread.sleep(300) // let the listener bus drain
          spark.sparkContext.removeSparkListener(l)
          buf.forEach(println)
          println(f"[stagesum] $n wall=$wall%.3f")
        }
      case other => sys.error(s"usage: plan <outDir> <suffix> [names|ALL] | time <names…> | stages <names…>; got $other")
    }
    spark.stop()
  }
}
