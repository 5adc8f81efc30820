package graft.cc

import graft.SparkSpec

/** Property tests per FIXTURES.md §C: CC labels equal an in-memory
  * union-find oracle on random graphs; invariance under permutation /
  * duplication / orientation; idempotence; GraphX/Pregel agreement.
  * Cases are seeded (deterministic) random multigraphs with self-loops,
  * duplicate edges and both orientations.
  */
class CCPropertySpec extends SparkSpec {

  /** Union-find oracle: node -> min node of its component (union always
    * parents the larger root under the smaller, so roots are minima).
    */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(n => n -> find(n)).toMap
  }

  private def randomEdges(rnd: scala.util.Random, n: Int, maxNode: Int): List[(Long, Long)] =
    List.fill(n)((rnd.nextInt(maxNode).toLong, rnd.nextInt(maxNode).toLong))

  private def runCC(edges: Seq[(Long, Long)]): (Map[Long, Long], Boolean) = {
    val s = spark
    import s.implicits._
    val res = ConnectedComponents.run(edges.toDF("src", "dst"), maxIterations = 50)
    (res.assignments.as[(Long, Long)].collect().toMap, res.converged)
  }

  test("CC matches union-find oracle on random multigraphs") {
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 6) {
      val edges = randomEdges(rnd, 10 + rnd.nextInt(120), 5 + trial * 8)
      val (got, converged) = runCC(edges)
      assert(converged, s"trial $trial did not converge")
      assert(got === unionFind(edges), s"trial $trial mismatch")
    }
  }

  test("CC output is invariant under edge permutation, duplication and flipping") {
    val rnd = new scala.util.Random(99)
    val edges = randomEdges(rnd, 80, 30)
    val base = runCC(edges)._1
    for (_ <- 1 to 3) {
      val mutated = rnd.shuffle(edges ++ rnd.shuffle(edges).take(edges.size / 2))
        .map { case (a, b) => if (rnd.nextBoolean()) (b, a) else (a, b) }
      assert(runCC(mutated)._1 === base)
    }
  }

  test("CC is idempotent: running on its own output pairs is a fixed point") {
    val rnd = new scala.util.Random(5)
    for (_ <- 1 to 3) {
      val edges = randomEdges(rnd, 60, 25)
      val (first, _) = runCC(edges)
      assert(runCC(first.toSeq)._1 === first)
    }
  }

  test("labels are component minima and every node labeled exactly once") {
    val rnd = new scala.util.Random(42)
    val edges = randomEdges(rnd, 150, 60)
    val (got, _) = runCC(edges)
    assert(got.keySet === edges.flatMap(e => Seq(e._1, e._2)).toSet)
    got.groupBy(_._2).foreach { case (label, members) =>
      assert(members.keys.min === label)
    }
  }

  test("runAuto small-graph (driver union-find) path matches the distributed fixpoint") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(77)
    val edges = randomEdges(rnd, 200, 80)
    val dist = runCC(edges)._1
    val auto = ConnectedComponents.runAuto(edges.toDF("src", "dst"))
    assert(auto.converged && auto.iterations === 0) // small path taken
    assert(auto.assignments.as[(Long, Long)].collect().toMap === dist)
    // force the distributed path through runAuto too
    val big = ConnectedComponents.runAuto(edges.toDF("src", "dst"),
      smallGraphThreshold = 0)
    assert(big.iterations > 0)
    assert(big.assignments.as[(Long, Long)].collect().toMap === dist)
  }

  test("runAuto driver path survives map growth on a 150k-edge graph") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(2024)
    // ~150k edges over ~120k distinct nodes: forces several resizes of
    // the open-addressing union-find map (initial capacity 128k slots,
    // 60% load)
    val edges = List.fill(150000)(
      (rnd.nextInt(120000).toLong, rnd.nextInt(120000).toLong))
    val auto = ConnectedComponents.runAuto(edges.toDF("src", "dst"))
    assert(auto.converged && auto.iterations === 0)
    assert(auto.assignments.as[(Long, Long)].collect().toMap === unionFind(edges))
  }

  test("Long.MinValue and Long.MaxValue ids label identically on every CC path") {
    val s = spark
    import s.implicits._
    val edges = List((Long.MinValue, 3L), (42L, 3L), (Long.MinValue, Long.MinValue),
      (Long.MaxValue, 7L), (Long.MaxValue, Long.MaxValue - 1), (-1L, -1L))
    val oracle = unionFind(edges)
    val df = edges.toDF("src", "dst")
    def labels(r: ConnectedComponents.CCResult) = r.assignments.as[(Long, Long)].collect().toMap
    assert(labels(ConnectedComponents.run(df, maxIterations = 50)) === oracle)
    val driver = ConnectedComponents.runAuto(df)
    assert(driver.iterations === 0 && labels(driver) === oracle)
    assert(labels(ConnectedComponents.runAuto(df, smallGraphThreshold = 0)) === oracle)
    assert(labels(ConnectedComponents.runContracted(df.repartition(3))) === oracle)
  }

  test("runContracted matches the fixpoint under every partitioning") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(4321)
    for (trial <- 1 to 4) {
      val edges = randomEdges(rnd, 20 + rnd.nextInt(150), 5 + trial * 10)
      val oracle = unionFind(edges)
      // Partitioning changes which components phase 1 sees locally —
      // never the labels.
      for (parts <- Seq(1, 3, 16)) {
        val df = edges.toDF("src", "dst").repartition(parts)
        val res = ConnectedComponents.runContracted(df, maxIterations = 50)
        assert(res.converged, s"trial $trial parts=$parts did not converge")
        assert(res.assignments.as[(Long, Long)].collect().toMap === oracle,
          s"trial $trial parts=$parts mismatch")
      }
    }
  }

  test("runContracted with the distributed inner fixpoint forced") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(888)
    val edges = randomEdges(rnd, 250, 90)
    val res = ConnectedComponents.runContracted(
      edges.toDF("src", "dst").repartition(8),
      maxIterations = 50, smallGraphThreshold = 0)
    assert(res.converged && res.iterations > 0) // inner fixpoint ran
    assert(res.assignments.as[(Long, Long)].collect().toMap === unionFind(edges))
  }

  test("runContracted on an empty edge set yields an empty assignment") {
    val s = spark
    import s.implicits._
    val res = ConnectedComponents.runContracted(
      Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(res.converged)
    assert(res.assignments.count() === 0)
  }

  test("agrees with GraphX connectedComponents (Pregel) on a fixed random graph") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val edges = randomEdges(rnd, 300, 120)
    val ours = runCC(edges)._1
    val theirs = GraphXCC.run(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(ours === theirs)
  }

  test("runAuto input sizing encodes the round-10 half-memory lesson") {
    val GiB = 1L << 30
    val r10Edges = 384653590L // SCALE.md: the 48g probe graph
    // The config that OOM'd (48g, 32 cores, 32 input partitions of 12M
    // edges): the rule must split well past 32 so one task's ~100 B/edge
    // transient state fits a quarter of its heap share.
    val at48 = ConnectedComponents.inputPartitions(r10Edges, 32, 48 * GiB)
    assert(at48 >= 90, s"48g sizing too coarse: $at48")
    assert(r10Edges / at48 * 100L <= 48 * GiB / 32 / 3,
      "per-task state exceeds a third of heap-per-core")
    // Abundant memory must not over-split (scheduling latency matters
    // on small rounds), but never below the core count.
    val at96 = ConnectedComponents.inputPartitions(r10Edges, 32, 96 * GiB)
    assert(at96 < at48 && at96 >= 32)
    // Halving memory never DECREASES the partition count.
    for (heap <- Seq(8, 16, 32, 64).map(_ * GiB))
      assert(ConnectedComponents.inputPartitions(r10Edges, 32, heap) >=
             ConnectedComponents.inputPartitions(r10Edges, 32, heap * 2))
    // Floors and the runaway cap.
    assert(ConnectedComponents.inputPartitions(1000L, 32, 48 * GiB) === 32)
    assert(ConnectedComponents.inputPartitions(10_000_000_000_000L, 32, 8 * GiB) === 20000)
  }
}
