package graft.cc

import graft.SparkSpec

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

  test("star rounds carry NO materialized adjacency: no collect_set / " +
       "ObjectHashAggregate anywhere in either star's plan (r10 verdict #1)") {
    // the O(component)-state hazard: a converged giant component's
    // entire membership in one aggregation buffer. The min-join form
    // must keep every aggregate O(1)-state (HashAggregate min/count/max)
    val edges = edgesDf(Seq((1L, 4L), (6L, 1L), (3L, 2L), (6L, 5L)))
    val large = StarOps.largeStarLazy(edges)
    val small = StarOps.smallStar(edges)
    for ((pairs, handles) <- Seq(large.pairs -> large.handles,
                                 small.pairs -> small.handles)) {
      val plan = pairs.queryExecution.sparkPlan.toString
      assert(!plan.contains("collect_set"), plan)
      assert(!plan.contains("ObjectHashAggregate"), plan)
      handles.foreach(_.unpersist())
    }
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
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    // depth-16 path: multiple rounds, so mid-run checkpoints exercise
    // the supersede-and-free discipline on the reliable branch too
    val edges = edgesDf((0L until 15L).map(i => (i, i + 1)))
    val rel = ConnectedComponents.run(edges, reliableCheckpoint = true)
    assert(rel.converged)
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

  test("stop rule: a first round converges only on zero change counts") {
    // the reference seeds prev with 9999999; counts that size are normal
    // at scale and must not stop the first round
    assert(!ConnectedComponents.stopRule(None, 9999999L, 9999999L))
    assert(ConnectedComponents.stopRule(None, 0L, 0L))
    assert(ConnectedComponents.stopRule(Some((9999999L, 9999999L)), 9999999L, 9999999L))
    assert(!ConnectedComponents.stopRule(Some((5L, 3L)), 5L, 4L))
  }

  test("rounds: one (large, small) entry per round; the stop rule fires only on the last") {
    val res = ConnectedComponents.run(edgesDf((0L until 199L).map(i => (i, i + 1))))
    assert(res.converged && res.iterations >= 2)
    assert(res.rounds.size === res.iterations)
    val prevs = None +: res.rounds.init.map(Some(_))
    val fired = prevs.zip(res.rounds).map { case (p, (l, sm)) =>
      ConnectedComponents.stopRule(p, l, sm) }
    assert(fired === Seq.fill(res.iterations - 1)(false) :+ true)
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
