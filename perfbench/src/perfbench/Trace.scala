package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

import scala.collection.mutable

/** One traced interval around a public call. Counters are filled by
  * [[Tracer]] from the jobs, stages and tasks that ran under the span's
  * id (a Spark local property, inherited by every job the call starts).
  */
final class Span(val id: Long, val name: String, val parent: Option[Long]) {
  var startNs = 0L
  var endNs = 0L
  var startMs = 0L
  var endMs = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var resultB = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Layer counts recorded by the caller (rounds, pairs, changes...). */
  val counts = mutable.LinkedHashMap.empty[String, Double]

  def wallS: Double = (endNs - startNs) / 1e9

  /** Span wall time while no Spark job of this span was running. */
  def driverS: Double = {
    val iv = jobIntervals.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, wallS - covered / 1e3)
  }

  private val MiB = 1024.0 * 1024.0

  /** The counters every span reports, in the benchmark's metric names. */
  def metrics: Seq[(String, Double, String)] = Seq(
    ("wall_s", wallS, "s"),
    ("driver_s", driverS, "s"),
    ("jobs", jobs.toDouble, "count"),
    ("stages", stages.toDouble, "count"),
    ("tasks", tasks.toDouble, "count"),
    ("task_run_s", taskRunMs / 1e3, "s"),
    ("task_cpu_s", taskCpuNs / 1e9, "s"),
    ("gc_s", gcMs / 1e3, "s"),
    ("shuffle_read_mb", shuffleReadB / MiB, "MiB"),
    ("shuffle_write_mb", shuffleWriteB / MiB, "MiB"),
    ("spill_mb", spillB / MiB, "MiB"),
    ("result_mb", resultB / MiB, "MiB"))
}

/** Span recorder. Spans live in memory until the run writes them out.
  * Events arrive on Spark's listener thread, so every access to the
  * shared maps is synchronized; readers drain the bus first.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Key = "perfbench.span"
  private var nextId = 0L
  private val open = mutable.Stack.empty[Span]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.Map.empty[Long, Span]
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val jobSpan = mutable.Map.empty[Int, (Span, Long)]

  sc.addSparkListener(this)

  def apply[T](name: String)(body: Span => T): T = {
    val s = synchronized {
      nextId += 1
      val sp = new Span(nextId, name, open.headOption.map(_.id))
      byId(sp.id) = sp
      spans += sp
      sp
    }
    val outer = sc.getLocalProperty(Key)
    open.push(s)
    sc.setLocalProperty(Key, s.id.toString)
    s.startMs = System.currentTimeMillis()
    s.startNs = System.nanoTime()
    try body(s)
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open.pop()
      sc.setLocalProperty(Key, outer)
      org.apache.spark.perfbench.ListenerBus.drain(sc)
    }
  }

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Key))).flatMap(id => byId.get(id.toLong))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      s.jobs += 1
      jobSpan(e.jobId) = (s, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (s, t0) => s.jobIntervals += ((t0, e.time)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    spanOf(e.properties).foreach(s => stageSpan(e.stageInfo.stageId) = s)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      s.tasks += 1
      s.taskRunMs += m.executorRunTime
      s.taskCpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      s.spillB += m.diskBytesSpilled
      s.resultB += m.resultSize
    }
  }

  /** Spans as JSON objects, with self time = wall minus the part of the
    * span covered by its children.
    */
  def json: Seq[Map[String, Any]] = synchronized {
    spans.toSeq.map { s =>
      val childS = spans.filter(_.parent.contains(s.id)).map(_.wallS).sum
      Map[String, Any]("id" -> s.id, "name" -> s.name, "parent" -> s.parent.getOrElse(null),
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_s" -> (s.wallS - childS)) ++
        s.metrics.map { case (k, v, _) => k -> v } ++ s.counts
    }
  }
}

/** Bytes of RDD blocks (cached or checkpointed, memory plus disk) held
  * by the block manager, and the peak of that total since `reset`.
  */
final class StorageMeter(sc: SparkContext) extends SparkListener {
  private val blocks = mutable.Map.empty[RDDBlockId, Long]
  private var total = 0L
  private var base = 0L
  private var peak = 0L

  sc.addSparkListener(this)

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case id: RDDBlockId =>
        total -= blocks.getOrElse(id, 0L)
        if (info.storageLevel.isValid) {
          blocks(id) = info.memSize + info.diskSize
          total += info.memSize + info.diskSize
        } else blocks.remove(id)
        peak = math.max(peak, total)
      case _ =>
    }
  }

  /** Starts a new peak window at the bytes held now. */
  def reset(): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    synchronized { base = total; peak = total }
  }

  /** Peak bytes held since `reset`, above what was held at `reset`. */
  def peakAboveBase(): Long = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    synchronized(peak - base)
  }
}
