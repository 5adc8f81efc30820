package graft.cc

import java.util.concurrent.{CountDownLatch, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** Golden fixtures from the reference's own docs:
  *   - README worked example (/root/reference/README.md:12-24)
  *   - star-op vectors from code comments
  *     (/root/reference/.../ConnectedComponent.scala:46-60,118-133)
  */
class ConnectedComponentsSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def cliquesDf(cliques: Seq[Seq[Long]]) = {
    val s = spark
    import s.implicits._
    cliques.toDF("nodes")
  }

  private def edgesDf(edges: Seq[(Long, Long)]) = {
    val s = spark
    import s.implicits._
    edges.toDF("src", "dst")
  }

  private val readmeCliques: Seq[Seq[Long]] =
    Seq(Seq(1L, 2L, 3L), Seq(3L, 4L), Seq(1L, 5L), Seq(2L), Seq(6L),
        Seq(7L, 8L), Seq(6L, 8L), Seq(9L))

  private val readmeExpected: Set[(Long, Long)] =
    Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L),
        (6L, 6L), (7L, 6L), (8L, 6L), (9L, 9L))

  test("cliqueEdges: all-pairs (max,min) orientation + singleton self-pair") {
    val s = spark; import s.implicits._
    val got = EdgeBuilder.cliqueEdges(cliquesDf(readmeCliques))
      .as[(Long, Long)].collect().toSeq
    // clique [1,2,3] -> (2,1),(3,1),(3,2); [3,4] -> (4,3); singleton [2] -> (2,2)
    assert(got.toSet === Set(
      (2L, 1L), (3L, 1L), (3L, 2L), (4L, 3L), (5L, 1L), (2L, 2L), (6L, 6L),
      (8L, 7L), (8L, 6L), (9L, 9L)))
    // multiset: no unexpected duplicates beyond genuine repeats
    assert(got.size === 10)
  }

  test("CliquePairs generator: exact multiset parity with the HOF form") {
    val s = spark; import s.implicits._
    // README cliques + adversarial shapes: empty, singleton, dup-heavy,
    // descending, a larger clique
    val cliques = readmeCliques ++ Seq(
      Seq.empty[Long], Seq(42L), Seq(5L, 5L, 5L), Seq(9L, 3L, 7L, 1L),
      (1L to 40L).reverse)
    val df = cliquesDf(cliques)
    val hof = EdgeBuilder.cliqueEdges(df).as[(Long, Long)].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    val gen = EdgeBuilder.cliqueEdgesGen(df).as[(Long, Long)].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(gen === hof)
    assert(gen.nonEmpty)
  }

  test("CliquePairs' reused row survives buffering consumers with whole-stage " +
       "codegen on and off") {
    val s = spark; import s.implicits._
    val df = cliquesDf(Seq(Seq.empty[Long], Seq(42L), Seq(5L, 5L, 5L), Seq(7L, 3L, 7L, 1L),
      Seq(Long.MaxValue, 0L, Long.MinValue), Seq(9L), (1L to 30L).reverse))
    val key = "spark.sql.codegen.wholeStage"
    val before = spark.conf.getOption(key)
    try for (wholeStage <- Seq("true", "false")) {
      spark.conf.set(key, wholeStage)
      val want = EdgeBuilder.cliqueEdges(df).as[(Long, Long)].collect().toSeq.sorted
      val gen = EdgeBuilder.cliqueEdgesGen(df)
      assert(gen.as[(Long, Long)].collect().toSeq.sorted === want, s"collect, wholeStage $wholeStage")
      assert(gen.sort("src", "dst").as[(Long, Long)].collect().toSeq === want,
        s"sort, wholeStage $wholeStage")
      assert(want.size === 1 + 3 + 6 + 3 + 1 + 435)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("smallStar matches the reference comment vector") {
    val s = spark; import s.implicits._
    // reference ConnectedComponent.scala:46-60: (1,4),(6,1),(3,2),(6,5)
    val r = StarOps.smallStar(edgesDf(Seq((1L, 4L), (6L, 1L), (3L, 2L), (6L, 5L))))
    val got = r.pairs.as[(Long, Long)].collect().toSet
    // groups: (4,[1])->m=1: {(4,1)}; (6,[1,5])->m=1: {(6,1),(5,1)}; (3,[2])->m=2: {(3,2)}
    assert(got === Set((4L, 1L), (6L, 1L), (5L, 1L), (3L, 2L)))
    assert(r.changeCount === 1) // only (5,1) is new
    r.handles.foreach(_.unpersist())
  }

  test("largeStar matches the reference comment vector") {
    val s = spark; import s.implicits._
    val r = StarOps.largeStarLazy(edgesDf(Seq((1L, 4L), (6L, 1L), (3L, 2L), (6L, 5L))))
    val got = r.pairs.as[(Long, Long)].collect().toSet
    // adjacency: (4,[1]) (1,[4,6]) (6,[1,5]) (3,[2]) (2,[3]) (5,[6])
    // emit n>=self -> (4,1); (1,1),(4,1),(6,1); (6,1); (3,2); (2,2),(3,2); (5,5),(6,5)
    assert(got === Set((4L, 1L), (1L, 1L), (6L, 1L), (3L, 2L), (2L, 2L),
                       (5L, 5L), (6L, 5L)))
    // per-group |new \ old|: (1,·)→3, (2,·)→2, (5,·)→2, rest 0
    assert(r.changeCount() === 7)
    r.handles.foreach(_.unpersist())
  }

  /** The shuffles `rdd`'s lineage depends on. */
  private def shuffles(rdd: RDD[_]): Int = rdd.dependencies.map {
    case d: ShuffleDependency[_, _, _] => 1 + shuffles(d.rdd)
    case d => shuffles(d.rdd)
  }.sum

  test("star rounds carry NO materialized adjacency: no collect_set / " +
       "ObjectHashAggregate anywhere in either star's plan (r10 verdict #1)") {
    // the O(component)-state hazard: a converged giant component's
    // entire membership in one aggregation buffer. Each star must be one
    // exchange, a sort and a streaming scan: no aggregate at all. Every
    // star (both of run's and both Dataset-level ones) plans only
    // sortedBy's exchange and sort, prepared without AQE
    val sorted = StarOps.sortedBy(spark)
    val plan = sorted(spark.sparkContext.emptyRDD[InternalRow])
    val text = plan.toString
    assert(!text.contains("collect_set"), text)
    assert(!text.contains("ObjectHashAggregate"), text)
    assert(plan.collect { case a: HashAggregateExec => a }.isEmpty, text)
    assert(plan.collect { case e: ShuffleExchangeExec => e }.size === 1, text)
    assert(plan.collect { case a: AdaptiveSparkPlanExec => a }.isEmpty, text)
    // one shuffle per star: a lone small star, and a round's two stars
    val edges = edgesDf(Seq((1L, 4L), (6L, 1L), (3L, 2L), (6L, 5L))).queryExecution.toRdd
    val (small, _) = StarOps.star(sorted, edges, large = false)
    assert(shuffles(small) === 1)
    val (large, _) = StarOps.star(sorted, edges, large = true)
    assert(shuffles(StarOps.star(sorted, large, large = false)._1) === 2)
  }

  test("a large-star change count read before any action over its pairs " +
       "throws instead of waiting") {
    val ls = StarOps.largeStarLazy(edgesDf(Seq((1L, 2L), (2L, 3L))))
    val err = intercept[IllegalStateException](ls.changeCount())
    assert(err.getMessage.contains("before any action"))
  }

  test("star counts are exact: two actions over one large star's pairs, then " +
       "the small star, count as one run") {
    // two components that need more than one round, with a self-loop and
    // a duplicate, so every count is > 0
    val g = edgesDf((0L until 12L).map(i => (i, i + 1)) ++
      Seq((20L, 24L), (24L, 21L), (21L, 23L), (23L, 22L), (22L, 22L), (20L, 24L)))
    val once = StarOps.largeStarLazy(g)
    val onceSmall = StarOps.smallStar(once.pairs)
    val want = (once.changeCount(), once.nonStar(), onceSmall.changeCount)
    assert(want._1 > 0 && want._2 > 0 && want._3 > 0, want)
    val twice = StarOps.largeStarLazy(g)
    assert(twice.pairs.count() === twice.pairs.collect().length.toLong)
    val twiceSmall = StarOps.smallStar(twice.pairs)
    assert((twice.changeCount(), twice.nonStar(), twiceSmall.changeCount) === want)
  }

  test("a null edge endpoint is rejected by run, runAuto on both paths, " +
       "runContracted and the chained stars") {
    val s = spark; import s.implicits._
    val edges = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (2L, null), (3L, 4L))
      .toDF("src", "dst")
    def rejected(solve: => Any): Unit = {
      val e = intercept[Exception](solve)
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains("null edge endpoint")), e)
    }
    rejected(ConnectedComponents.run(edges))
    rejected(ConnectedComponents.runAuto(edges))
    rejected(ConnectedComponents.runAuto(edges, smallGraphThreshold = 0L))
    rejected(ConnectedComponents.runContracted(edges))
    rejected(StarOps.smallStar(StarOps.largeStarLazy(edges).pairs))
  }

  test("README example: full CC run (labels = component min, incl. self-pair)") {
    val s = spark; import s.implicits._
    val res = ConnectedComponents.runCliques(cliquesDf(readmeCliques))
    assert(res.converged)
    assert(res.iterations <= 6) // BASELINE.md engine-internal target
    val got = res.assignments.as[(Long, Long)].collect()
    assert(got.toSet === readmeExpected)
    assert(got.length === readmeExpected.size) // each node exactly once
  }

  test("components materialization (CCDriver parity)") {
    val s = spark; import s.implicits._
    val res = ConnectedComponents.runCliques(cliquesDf(readmeCliques))
    val comps = ConnectedComponents.components(res.assignments)
      .as[(Long, Int, Seq[Long])].collect().toSet
    assert(comps === Set(
      (1L, 5, Seq(1L, 2L, 3L, 4L, 5L)),
      (6L, 3, Seq(6L, 7L, 8L)),
      (9L, 1, Seq(9L))))
  }

  test("componentsPreview: every row bounded by maxMembers (size, min, " +
       "first-N sorted) — the giant-component-safe variant (r11 verdict #2)") {
    val s = spark; import s.implicits._
    // one 100-member component (path 0..99), one pair, one singleton
    val edges = edgesDf((0L until 99L).map(i => (i, i + 1)) ++
      Seq((1000L, 1001L), (2000L, 2000L)))
    val res = ConnectedComponents.run(edges)
    assert(res.converged)
    val prev = ConnectedComponents.componentsPreview(res.assignments, maxMembers = 5)
      .as[(Long, Long, Long, Seq[Long])].collect().toSet
    assert(prev === Set(
      (0L, 100L, 0L, Seq(0L, 1L, 2L, 3L, 4L)),
      (1000L, 2L, 1000L, Seq(1000L, 1001L)),
      (2000L, 1L, 2000L, Seq(2000L))))
    // with a bound at or above the largest component the preview IS the
    // full membership — agreement with the reference-parity form
    val full = ConnectedComponents.components(res.assignments)
      .as[(Long, Int, Seq[Long])].collect().toSet
    val wide = ConnectedComponents.componentsPreview(res.assignments, maxMembers = 100)
      .as[(Long, Long, Long, Seq[Long])].collect().toSet
    assert(wide.map(t => (t._1, t._2.toInt, t._4)) === full)
    intercept[IllegalArgumentException] {
      ConnectedComponents.componentsPreview(res.assignments, maxMembers = 0)
    }
    // plan shape pinned (ADVICE r12): the preview is a bounded typed
    // aggregate — no per-component row_number window, whose sort would
    // land a mega-component's whole membership in ONE task; and no
    // join (size/min/preview ride one aggregation)
    val plan = ConnectedComponents.componentsPreview(res.assignments, 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "preview regressed to a window sort")
    assert(!plan.toLowerCase.contains("join"), "preview regressed to a join")
    // ADVICE r13: a non-integral node column must fail LOUDLY — the
    // bigint cast is silent under non-ANSI casting and would otherwise
    // return null previews for e.g. string ids
    val stringNodes = res.assignments
      .selectExpr("cast(node as string) as node", "component")
    val err = intercept[IllegalArgumentException] {
      ConnectedComponents.componentsPreview(stringNodes, 5)
    }
    assert(err.getMessage.contains("integral"))
  }

  test("reliableCheckpoint=true: labels identical to the localCheckpoint " +
       "path, checkpoint files actually written, superseded rounds' " +
       "files GC'd deterministically (r11 verdict #4, r12 #4)") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory(
      graft.queries.Scratch.root, "graft_cc_ckpt")
    try {
      spark.sparkContext.setCheckpointDir(dir.toString)
      // depth-16 path: multiple rounds, so mid-run checkpoints exercise
      // the supersede-and-free discipline on the reliable branch too
      val edges = edgesDf((0L until 15L).map(i => (i, i + 1)))
      val (rel, jobs) = countingJobs(ConnectedComponents.run(edges, reliableCheckpoint = true))
      assert(rel.converged)
      // the round's job plus one job copying its pairs to the files
      assert(jobs === 2 * rel.iterations, s"$jobs jobs for ${rel.iterations} rounds")
      val loc = ConnectedComponents.run(edges)
      assert(rel.assignments.as[(Long, Long)].collect().toSet ===
             loc.assignments.as[(Long, Long)].collect().toSet)
      assert(rel.iterations === loc.iterations)
      assert(rel.iterations > 1) // multiple rounds or the GC claim is vacuous
      // the result's OWN checkpoint files survive (the caller owns them);
      // every superseded round's rdd-* dir was deleted when its successor
      // materialized — without that, a long cluster fixpoint holds
      // rounds x round-size of checkpoint storage until context stop
      val w = java.nio.file.Files.walk(dir)
      val liveRddDirs =
        try w.filter(p => java.nio.file.Files.isRegularFile(p))
          .map[String](_.getParent.getFileName.toString)
          .filter(_.startsWith("rdd-"))
          .distinct().count()
        finally w.close()
      assert(liveRddDirs === 1L,
        s"expected exactly the final round's checkpoint dir, got $liveRddDirs")
      // and the surviving files are genuinely readable as the result
      assert(rel.assignments.count() === 16L)
    } finally graft.queries.Scratch.deleteRec(dir)
  }

  test("edge cases: empty input, single self-loop, path graph, maxIterations=0") {
    val s = spark; import s.implicits._
    val empty = ConnectedComponents.run(edgesDf(Seq.empty))
    assert(empty.converged && empty.assignments.count() === 0)

    val loop = ConnectedComponents.run(edgesDf(Seq((5L, 5L))))
    assert(loop.converged)
    assert(loop.assignments.as[(Long, Long)].collect().toSet === Set((5L, 5L)))

    // long path 0-1-2-...-15: worst case for iteration count
    val path = ConnectedComponents.run(edgesDf((0L until 15L).map(i => (i, i + 1))))
    assert(path.converged)
    assert(path.assignments.as[(Long, Long)].collect().toSet ===
      (0L to 15L).map((_, 0L)).toSet)

    val non = ConnectedComponents.run(edgesDf(Seq((1L, 2L))), maxIterations = 0)
    assert(!non.converged && non.iterations === 0)
  }

  test("rounds: one (large, small) and one non-star entry per round; only " +
       "the last round saw a star forest") {
    val res = ConnectedComponents.run(edgesDf((0L until 199L).map(i => (i, i + 1))))
    assert(res.converged && res.iterations >= 2)
    assert(res.rounds.size === res.iterations)
    assert(res.nonStar.size === res.iterations)
    assert(res.nonStar.last === 0L)
    assert(res.nonStar.init.forall(_ > 0L), res.nonStar)
  }

  /** Runs `body` and counts the Spark jobs it starts. */
  private def countingJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val (tag, key) = ("cc-jobs", "graft.spec.span")
    val jobs = new AtomicInteger()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)) match {
          case Some(`tag`) => jobs.incrementAndGet()
          case Some("end") => drained.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      val res = try body finally sc.setLocalProperty(key, null)
      // listener events arrive in order: once the marker job is seen,
      // every job of the body has been counted
      sc.setLocalProperty(key, "end")
      try sc.parallelize(Seq(1)).count() finally sc.setLocalProperty(key, null)
      assert(drained.await(60, TimeUnit.SECONDS))
      (res, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("exactly one job per fixpoint round (the planned round runs without " +
       "AQE's map-stage jobs)") {
    val (res, jobs) = countingJobs(
      ConnectedComponents.run(edgesDf((0L until 199L).map(i => (i, i + 1)))))
    assert(res.converged && res.iterations === 9)
    assert(jobs === res.iterations, s"$jobs jobs for ${res.iterations} rounds")
  }

  test("runContracted plus a noop sink runs exactly 2 jobs; its scan keeps " +
       "every shuffle partition") {
    val cliques = CliqueGen.cliques(spark, 40, 7L).localCheckpoint()
    val (res, jobs) = countingJobs {
      val r = ConnectedComponents.runContracted(EdgeBuilder.cliqueEdgesGen(cliques))
      r.assignments.write.format("noop").mode("overwrite").save()
      r
    }
    assert(res.path === "contracted" && res.converged && res.iterations === 0)
    // the contraction's packing job, then the sink
    assert(jobs === 2, s"$jobs jobs")
    val nodes = CliqueGen.groundTruth(spark, 40, 7L).count()
    assert(res.contraction === Some((nodes, 0L)))
    // its exchange and sort plan without AQE, which would add a
    // map-stage job
    val sorted = StarOps.sortedBy(spark)(spark.sparkContext.emptyRDD[InternalRow])
    assert(sorted.collect { case a: AdaptiveSparkPlanExec => a }.isEmpty, sorted)
    assert(sorted.collect { case e: ShuffleExchangeExec => e }.size === 1, sorted)
    // the only checkpoint under the labels is the contraction scan's
    // (the rep graph was empty, so no inner solve ran); AQE must not
    // have coalesced it to fewer tasks
    val ckpts = res.assignments.queryExecution.analyzed.collect {
      case l: LogicalRDD => l.rdd.getNumPartitions
    }
    assert(ckpts === Seq(spark.conf.get("spark.sql.shuffle.partitions").toInt))
    val s = spark; import s.implicits._
    assert(res.assignments.as[(Long, Long)].collect().toSet ===
      CliqueGen.groundTruth(spark, 40, 7L).as[(Long, Long)].collect().toSet)
  }

  test("runAuto's driver path runs 3 jobs: the dedup exchange, the packed " +
       "checkpoint that counts the edges, and the collect") {
    val s = spark; import s.implicits._
    val edges = edgesDf((0L until 199L).map(i => (i, i + 1)) ++ Seq((0L, 1L), (500L, 501L)))
    val (res, jobs) = countingJobs(ConnectedComponents.runAuto(edges))
    assert(res.path === "driver")
    assert(jobs === 3, s"$jobs jobs")
    assert(res.assignments.as[(Long, Long)].collect().toSet ===
      ((0L to 199L).map((_, 0L)) ++ Seq((500L, 500L), (501L, 500L))).toSet)
  }

  test("freeing packed stores logs no lineage warning: a 9-round run and a " +
       "k > 0 runContracted") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val lines = new LinkedBlockingQueue[String]()
    val appender = new AbstractAppender("cc-free-log", null, null, true, Array.empty) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, null, null)
    ctx.updateLoggers()
    val path = (0L until 199L).map(i => (i, i + 1))
    try {
      assert(ConnectedComponents.run(edgesDf(path)).iterations === 9)
      val con = ConnectedComponents.runContracted(edgesDf(path).repartition(4))
      assert(con.path.startsWith("contracted+"), con.path)
      assert(con.contraction.exists { case (labels, k) => labels === 200L && k > 0L },
        con.contraction)
    } finally {
      root.removeAppender("cc-free-log")
      ctx.updateLoggers()
      appender.stop()
    }
    val warned = lines.toArray.map(_.toString).filter(_.contains("was locally checkpointed"))
    assert(warned.isEmpty, warned.mkString("\n"))
  }

  /** The stores `body` leaves persisted: RDDs absent from
    * `getRDDStorageInfo` before it, as reported once every block of
    * them is (block updates reach the status store asynchronously).
    */
  private def storesLeft[T](body: => T): (T, Seq[org.apache.spark.storage.RDDInfo]) = {
    val sc = spark.sparkContext
    val before = sc.getRDDStorageInfo.map(_.id).toSet
    val res = body
    val deadline = System.nanoTime() + 30L * 1000000000L
    def left = sc.getRDDStorageInfo.toSeq.filterNot(i => before(i.id))
    while (!left.forall(i => i.numCachedPartitions == i.numPartitions) &&
           System.nanoTime() < deadline) Thread.sleep(50)
    (res, left)
  }

  /** The persisted RDD under a CC result's one `LogicalRDD` leaf. */
  private def resultStore(res: ConnectedComponents.CCResult): Int =
    res.assignments.queryExecution.analyzed.collect {
      case l: LogicalRDD => l.rdd.dependencies.map(_.rdd.id)
    }.flatten match {
      case Seq(id) => id
      case ids     => fail(s"expected one store under the result, got $ids")
    }

  test("run and a k = 0 runContracted leave one store, the result's, at " +
       "most 17 B per pair") {
    val path = edgesDf((0L until 199L).map(i => (i, i + 1)))
    val (ran, runLeft) = storesLeft(ConnectedComponents.run(path))
    assert(ran.iterations > 1)
    assert(runLeft.map(_.id) === Seq(resultStore(ran)), runLeft)
    info(s"run: ${runLeft.head.memSize + runLeft.head.diskSize} B for 200 pairs")
    assert(runLeft.head.memSize + runLeft.head.diskSize <= 17L * 200, runLeft)

    val cliques = CliqueGen.cliques(spark, 40, 7L).localCheckpoint()
    val nodes = CliqueGen.groundTruth(spark, 40, 7L).count()
    val (con, conLeft) = storesLeft(
      ConnectedComponents.runContracted(EdgeBuilder.cliqueEdgesGen(cliques)))
    assert(con.path === "contracted")
    assert(conLeft.map(_.id) === Seq(resultStore(con)), conLeft)
    info(s"runContracted: ${conLeft.head.memSize + conLeft.head.diskSize} B for $nodes pairs")
    assert(conLeft.head.memSize + conLeft.head.diskSize <= 17L * nodes, conLeft)
  }

  test("a small run result plans as small: joining an edge table to it " +
       "plans a broadcast hash join") {
    val s = spark; import s.implicits._
    val res = ConnectedComponents.run(edgesDf((0L until 199L).map(i => (i, i + 1))))
    // an RDD-backed edge table reports no size, so only the labels'
    // own statistics can make the planner broadcast them
    val edges = spark.sparkContext.parallelize((0L until 199L).map(i => (i, i + 1)))
      .toDF("src", "dst")
    val joined = edges.join(res.assignments, col("src") === col("node"))
    val plan = joined.queryExecution.sparkPlan
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.size === 1, plan)
    assert(joined.count() === 199L)
  }

  test("starEdges: duplicate-only cliques keep their node as a self-pair") {
    val s = spark; import s.implicits._
    val got = EdgeBuilder.starEdges(cliquesDf(Seq(Seq(5L, 5L), Seq(7L, 7L, 8L))))
      .as[(Long, Long)].collect().toSet
    assert(got === Set((5L, 5L), (8L, 7L)))
  }

  test("starEdges yields the same components as cliqueEdges") {
    val s = spark; import s.implicits._
    val a = ConnectedComponents.run(EdgeBuilder.cliqueEdges(cliquesDf(readmeCliques)))
    val b = ConnectedComponents.run(EdgeBuilder.starEdges(cliquesDf(readmeCliques)))
    assert(a.assignments.as[(Long, Long)].collect().toSet ===
           b.assignments.as[(Long, Long)].collect().toSet)
  }
}
