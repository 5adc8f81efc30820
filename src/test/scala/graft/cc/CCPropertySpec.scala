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

  /** Seeded multigraph over `maxNode` ids around 0 plus `Long.MinValue`
    * and `Long.MaxValue`: random edges, then self-loops, duplicates and
    * flipped copies of some of them.
    */
  private def multigraph(rnd: scala.util.Random, n: Int, maxNode: Int): List[(Long, Long)] = {
    val ids = (0 until maxNode).map(_.toLong - maxNode / 2) ++ Seq(Long.MinValue, Long.MaxValue)
    def id(): Long = ids(rnd.nextInt(ids.length))
    val base = List.fill(n)((id(), id()))
    val loops = List.fill(1 + n / 10) { val v = id(); (v, v) }
    val dups = rnd.shuffle(base).take(n / 4)
    val flips = rnd.shuffle(base).take(n / 4).map(_.swap)
    rnd.shuffle(base ++ loops ++ dups ++ flips)
  }

  /** The reference's HashSet star (StarOps header): per `self`, the set
    * of its neighbours; per group, the emitted pair set and the number
    * of its pairs that are not among the group's input pairs.
    */
  private def oracleStar(rows: Seq[(Long, Long)],
                         emit: (Long, Long, Set[Long]) => Set[Long]): (Seq[(Long, Long)], Long) = {
    val groups = rows.groupBy(_._1).map { case (self, g) => self -> g.map(_._2).toSet }
    val perGroup = groups.toSeq.map { case (self, nbrs) =>
      val m = (nbrs + self).min
      val out = emit(self, m, nbrs).map(n => (n, m))
      (out.toSeq, out.count { case (n, d) => !(n == self && nbrs(d)) }.toLong)
    }
    (perGroup.flatMap(_._1).sorted, perGroup.map(_._2).sum)
  }

  private def oracleLarge(edges: Seq[(Long, Long)]): (Seq[(Long, Long)], Long) =
    oracleStar(edges.flatMap { case (a, b) => if (a == b) Seq((a, b)) else Seq((a, b), (b, a)) },
      (self, _, nbrs) => (nbrs + self).filter(_ >= self))

  private def oracleSmall(edges: Seq[(Long, Long)]): (Seq[(Long, Long)], Long) =
    oracleStar(edges.map { case (a, b) => (math.max(a, b), math.min(a, b)) },
      (self, m, nbrs) => nbrs.filter(n => n != m && n != self) + self)

  /** Large-star groups that are neither a leaf (exactly one distinct
    * neighbour other than itself, and that one smaller) nor a centre
    * (no smaller neighbour).
    */
  private def oracleNonStar(edges: Seq[(Long, Long)]): Long =
    edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupBy(_._1).count { case (v, g) =>
      val nbrs = g.map(_._2).toSet - v
      val below = nbrs.count(_ < v)
      !(below == 0 || below == 1 && nbrs.size == 1)
    }.toLong

  test("each star's pairs and change count equal the reference HashSet star") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(2718)
    val graphs = Nil :: List.tabulate(6)(t => multigraph(rnd, 5 + rnd.nextInt(40 + 30 * t), 4 + 6 * t))
    // built inputs for the non-star count: min-centred star forests,
    // without and with self-loops (0); a star centred above its minimum
    // and a 3-node path (> 0)
    val forest = List((5L, 1L), (1L, 9L), (3L, 1L), (0L, -7L), (-7L, 4L), (Long.MaxValue, Long.MinValue))
    val built = List(
      forest -> true,
      (forest ++ List((1L, 1L), (9L, 9L), (-7L, -7L), (100L, 100L))) -> true,
      List((5L, 2L), (5L, 8L), (9L, 5L)) -> false,
      List((1L, 2L), (2L, 3L)) -> false)
    for ((edges, star) <- built)
      assert((oracleNonStar(edges) == 0L) === star, edges)
    for ((edges, trial) <- (graphs ++ built.map(_._1)).zipWithIndex) {
      val df = edges.toDF("src", "dst")
      val large = StarOps.largeStarLazy(df)
      val got = large.pairs.as[(Long, Long)].collect().toSeq.sorted
      assert((got, large.changeCount()) === oracleLarge(edges), s"large star, trial $trial")
      assert(large.nonStar() === oracleNonStar(edges), s"non-star groups, trial $trial")
      val small = StarOps.smallStar(df)
      assert((small.pairs.as[(Long, Long)].collect().toSeq.sorted, small.changeCount) ===
        oracleSmall(edges), s"small star, trial $trial")
      // Chained as in a fixpoint round: the small star's one action
      // fills both counts.
      val chained = StarOps.largeStarLazy(df)
      val next = StarOps.smallStar(chained.pairs)
      val (largePairs, largeCount) = oracleLarge(edges)
      assert(chained.changeCount() === largeCount, s"chained large star, trial $trial")
      assert(chained.nonStar() === oracleNonStar(edges), s"chained non-star groups, trial $trial")
      assert((next.pairs.as[(Long, Long)].collect().toSeq.sorted, next.changeCount) ===
        oracleSmall(largePairs), s"chained small star, trial $trial")
    }
  }

  test("rounds on a fixed multigraph are pinned to the recorded vector") {
    val s = spark
    import s.implicits._
    // a seeded multigraph (extreme ids included) plus a 64-node path
    val edges = multigraph(new scala.util.Random(31337), 300, 120) ++
      (1000L until 1063L).map(i => (i, i + 1))
    val res = ConnectedComponents.run(edges.toDF("src", "dst"))
    assert(res.converged)
    // the vector the min-join star form (three shuffles per star)
    // printed, up to the first round whose input was a star forest
    assert(res.rounds === Seq((372L, 276L), (349L, 216L), (302L, 182L), (340L, 190L),
      (348L, 150L), (274L, 31L), (181L, 0L)))
    assert(res.nonStar === Seq(159L, 96L, 66L, 59L, 55L, 47L, 0L))
    assert(res.assignments.as[(Long, Long)].collect().toMap === unionFind(edges))
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

  test("applyDeletion equals the union-find oracle of the surviving graph") {
    val s = spark
    import s.implicits._
    def check(edges: Seq[(Long, Long)], deleted: Seq[(Long, Long)]): Map[Long, Long] = {
      val surviving = edges.diff(deleted)
      val got = IncrementalCC.applyDeletion(
        unionFind(edges).toSeq.toDF("node", "component"),
        deleted.flatMap(e => Seq(e._1, e._2)).distinct.toDF("node"),
        surviving.toDF("src", "dst")).as[(Long, Long)].collect()
      assert(got.map(_._1).distinct.length === got.length, "a node labeled twice")
      assert(got.toMap === unionFind(surviving))
      got.toMap
    }
    // Fixed case: deleting (2,3) splits {1..4}; deleting (10,11) strips
    // node 10 of its only edge; {20,21} is untouched.
    val fixed = check(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (20L, 21L)),
      Seq((2L, 3L), (10L, 11L)))
    assert(fixed(1L) === 1L && fixed(3L) === 3L && fixed(4L) === 3L)
    assert(!fixed.contains(10L) && fixed(12L) === 11L && fixed(21L) === 20L)
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 4) {
      val edges = randomEdges(rnd, 40 + rnd.nextInt(80), 20 + trial * 10)
      check(edges, edges.filter(_ => rnd.nextInt(4) == 0))
    }
  }

  test("applyDelta over an empty label table equals a from-scratch run") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("node", "component")
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 3) {
      val edges = randomEdges(rnd, 30 + rnd.nextInt(80), 10 + trial * 15)
      val got = IncrementalCC.applyDelta(empty, edges.toDF("src", "dst"))
        .as[(Long, Long)].collect()
      assert(got.map(_._1).distinct.length === got.length, "a node labeled twice")
      assert(got.toMap === runCC(edges)._1, s"trial $trial mismatch")
    }
  }

  test("runAuto small-graph (driver union-find) path matches the distributed fixpoint") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(77)
    val edges = randomEdges(rnd, 200, 80)
    val dist = runCC(edges)._1
    val auto = ConnectedComponents.runAuto(edges.toDF("src", "dst"))
    assert(auto.path === "driver" && auto.converged && auto.iterations === 0)
    assert(auto.assignments.as[(Long, Long)].collect().toMap === dist)
    // force the distributed path through runAuto too
    val big = ConnectedComponents.runAuto(edges.toDF("src", "dst"),
      smallGraphThreshold = 0)
    assert(big.path === "fixpoint" && big.iterations > 0)
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
    assert(auto.path === "driver" && auto.converged && auto.iterations === 0)
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
    assert(driver.path === "driver" && labels(driver) === oracle)
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
    assert(res.converged && res.path === "contracted+fixpoint")
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

  test("the contraction scan equals the reference min-rep table and rep-clique star") {
    val s = spark
    import s.implicits._
    case class NodeRep(node: Long, rep: Long)
    case class Contracted(id: Long, m: Long, label: Boolean)
    def contract(rows: Seq[NodeRep]): Seq[Contracted] =
      ConnectedComponents.contract(spark, rows.map(r => (r.node, r.rep)).toDF("node", "rep")
          .repartition(3).queryExecution.toRdd)
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).collect().toSeq
        .map((Contracted.apply _).tupled)
    val rnd = new scala.util.Random(1618)
    val ids = (-20L to 20L) ++ Seq(Long.MinValue, Long.MinValue + 1, Long.MaxValue - 1, Long.MaxValue)
    def id(): Long = ids(rnd.nextInt(ids.length))
    assert(contract(Nil).isEmpty)
    for (trial <- 0 until 5) {
      // each node seen by 1..5 tasks, each task naming one rep from a
      // small pool, so reps repeat within and across nodes
      val nodes = if (trial == 4) ids else rnd.shuffle(ids).take(4 + 8 * trial)
      val rows = rnd.shuffle(nodes.flatMap { n =>
        Seq.fill(1 + rnd.nextInt(5))(NodeRep(n, if (rnd.nextInt(3) == 0) n else id()))
      })
      val groups = rows.groupBy(_.node).map { case (n, g) => n -> g.map(_.rep).distinct.sorted }
      val wantLabels = groups.map { case (n, reps) => (n, reps.head) }.toSeq.sorted
      val wantEdges = groups.values.toSeq.flatMap(reps => reps.tail.map(r => (r, reps.head))).sorted
      val got = contract(rows)
      val (labels, edges) = got.partition(_.label)
      assert(labels.map(c => (c.id, c.m)).sorted === wantLabels, s"label rows, trial $trial")
      assert(edges.map(c => (c.id, c.m)).sorted === wantEdges, s"star edges, trial $trial")
    }
  }

  test("LocalUnionFind's last-union memo equals a memo-free union-find") {
    val rnd = new scala.util.Random(2718)
    val ids = (-30L to 30L) ++ Seq(Long.MinValue, Long.MinValue + 1, Long.MaxValue - 1, Long.MaxValue)
    def id(): Long = ids(rnd.nextInt(ids.length))
    for (trial <- 0 until 20) {
      // each edge repeats the last edge's endpoints in either column
      // about half the time, as a clique stream does
      var last = (id(), id())
      val edges = Vector.fill(40 + 30 * trial) {
        def pick(): Long = rnd.nextInt(4) match {
          case 0 => last._1
          case 1 => last._2
          case _ => id()
        }
        last = (pick(), pick())
        last
      }
      val uf = new ConnectedComponents.LocalUnionFind(4)
      edges.foreach { case (a, b) => uf.union(a, b) }
      assert(uf.iterator.toMap === unionFind(edges), s"trial $trial")
    }
  }

  test("runContracted labels task-local and split components exactly") {
    val s = spark
    import s.implicits._
    // Components held wholly inside one partition (their reps never
    // reach the rep graph, so their labels come from the coalesce) next
    // to components whose edges are dealt across partitions.
    val rnd = new scala.util.Random(2357)
    val parts = 4
    val local = (0 until 12).map { c =>
      val base = 1000L * c
      (c % parts, path(3 + c).map { case (a, b) => (base + a, base + b) })
    }
    val split = (12 until 20).map { c =>
      val ids = rnd.shuffle((0L until 40L).map(_ + 1000L * c).toVector)
      ids.indices.tail.map(i => (ids(rnd.nextInt(i)), ids(i)))
    }
    // a local component below every other id, and a node of split
    // component 12 that only partition 1 sees
    val placed = local ++ Seq(0 -> Seq((-5L, -4L)), 1 -> Seq((12000L, 99999L))) ++
      split.flatten.map(e => rnd.nextInt(parts) -> Seq(e))
    val byPart = (0 until parts).map(p => placed.filter(_._1 == p).flatMap(_._2))
    val edges = byPart.flatten
    val df = spark.sparkContext.parallelize(0 until parts, parts)
      .flatMap(byPart(_)).toDF("src", "dst")
    val oracle = unionFind(edges)
    for (threshold <- Seq(4L << 20, 0L)) {
      val res = ConnectedComponents.runContracted(df, maxIterations = 50,
        smallGraphThreshold = threshold)
      val got = res.assignments.as[(Long, Long)].collect()
      assert(res.converged, s"threshold $threshold did not converge")
      assert(res.path === (if (threshold == 0L) "contracted+fixpoint" else "contracted+driver"))
      assert(got.map(_._1).distinct.length === got.length, "a node labeled twice")
      assert(got.toMap === oracle, s"threshold $threshold")
    }
    // the task-local components alone contract fully: no inner solve
    val localOnly = spark.sparkContext.parallelize(0 until parts, parts)
      .flatMap(p => local.filter(_._1 == p).flatMap(_._2)).toDF("src", "dst")
    val res = ConnectedComponents.runContracted(localOnly)
    assert(res.path === "contracted" && res.converged && res.iterations === 0)
    assert(res.assignments.as[(Long, Long)].collect().toMap === unionFind(local.flatMap(_._2)))
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

  /** Ids 0 until n relabelled by a seeded shuffle, so a component's
    * minimum sits at a random position of a path, comb or broom instead
    * of at its end.
    */
  private def permuted(edges: Seq[(Long, Long)], n: Int, seed: Int): Seq[(Long, Long)] = {
    val ids = new scala.util.Random(seed).shuffle((0L until n).toVector)
    edges.map { case (a, b) => (ids(a.toInt), ids(b.toInt)) }
  }

  private def path(n: Int): Seq[(Long, Long)] = (0L until n - 1).map(i => (i, i + 1))

  /** Solves with `run`, `runAuto` and `runContracted` (the last two
    * with the distributed fixpoint forced), checks each one's labels
    * against union-find and returns their round counts.
    */
  private def checkEverySolver(edges: Seq[(Long, Long)], maxIterations: Int,
                               what: String): Seq[Int] = {
    val s = spark
    import s.implicits._
    val df = edges.toDF("src", "dst")
    val oracle = unionFind(edges)
    val results = Seq(
      ConnectedComponents.run(df, maxIterations),
      ConnectedComponents.runAuto(df, maxIterations, smallGraphThreshold = 0),
      ConnectedComponents.runContracted(df.repartition(4), maxIterations,
        smallGraphThreshold = 0))
    for (((res, name), path) <- results.zip(Seq("run", "runAuto", "runContracted"))
        .zip(Seq("fixpoint", "fixpoint", "contracted+fixpoint"))) {
      assert(res.path === path, s"$name on $what")
      assert(res.converged, s"$name on $what did not converge")
      assert(res.assignments.as[(Long, Long)].collect().toMap === oracle,
        s"$name on $what")
    }
    results.map(_.iterations)
  }

  test("paths of 2^k nodes converge within k² rounds on every solver") {
    for (k <- 4 to 8; permute <- Seq(false, true)) {
      val n = 1 << k
      val edges = if (permute) permuted(path(n), n, k) else path(n)
      val what = s"${if (permute) "permuted" else "ordered"} path of $n"
      val rounds = checkEverySolver(edges, k * k + 1, what)
      assert(rounds.forall(_ <= k * k), s"$what: rounds $rounds exceed k² = ${k * k}")
      info(s"$what: run / runAuto / runContracted rounds ${rounds.mkString(" / ")}")
    }
  }

  test("combs, brooms and a bridged pair of giants match union-find on every solver") {
    // comb: a 32-node spine, a 7-node tooth hanging off every spine node
    val spine = 32
    val comb = path(spine) ++ (0 until spine).flatMap { i =>
      val tooth = spine + i * 7L
      (i.toLong, tooth) +: (0L until 6L).map(j => (tooth + j, tooth + j + 1))
    }
    // broom: a 128-node handle ending in a 128-bristle star
    val broom = path(128) ++ (128L until 256L).map(b => (127L, b))
    // two random connected giants on interleaved ids (evens, odds),
    // joined by one edge between their largest ids
    val rnd = new scala.util.Random(606)
    def giant(ids: IndexedSeq[Long]): Seq[(Long, Long)] =
      ids.indices.tail.map(i => (ids(rnd.nextInt(i)), ids(i))) ++
        Seq.fill(ids.size)((ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size))))
    val evens = rnd.shuffle((0L until 600L by 2).toVector)
    val odds = rnd.shuffle((1L until 600L by 2).toVector)
    val bridged = giant(evens) ++ giant(odds) :+ ((598L, 599L))
    for ((edges, what) <- Seq(comb -> "comb", permuted(comb, 256, 1) -> "permuted comb",
        broom -> "broom", permuted(broom, 256, 2) -> "permuted broom",
        bridged -> "bridged giants")) {
      val rounds = checkEverySolver(edges, 50, what)
      info(s"$what: run / runAuto / runContracted rounds ${rounds.mkString(" / ")}")
    }
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
