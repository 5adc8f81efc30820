package perfbench

import graft.cc.{CliqueGen, ConnectedComponents, EdgeBuilder, IncrementalCC, StarOps}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** One timed op: its wall time and whether its output matched ground truth. */
final case class Op(seconds: Double, ok: Boolean)

/** A workload owns its inputs and ground truth and runs one op at a time
  * through the engine's public API. `setup` may be called again after
  * `release`; `op` runs against the inputs of the last `setup`.
  */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  /** Generates the inputs and their ground truth and materializes both. */
  def setup(): Unit
  /** Frees the inputs of the last `setup`. */
  def release(): Unit
  /** One op; with a tracer, each public call runs inside a span. */
  def op(tr: Option[Tracer]): Op
  /** Persistent RDDs an op leaves behind on purpose (the next op's input). */
  def retained: Set[Int] = Set.empty
  /** Sizes, recorded with the run. */
  def context: Map[String, Any]

  protected def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  protected def within[T](tr: Option[Tracer], name: String)(body: Option[Span] => T): T =
    tr match {
      case Some(t) => t(name)(s => body(Some(s)))
      case None    => body(None)
    }

  protected def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => Some(l.rdd)
      case _             => None
    }
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "scatter" => new Scatter(spark, seed)
    case "grouped" => new Grouped(spark, seed)
    case other     => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** 64-bit finalizer of MurmurHash3: a seeded, stateless random source. */
  def mix(a: Long, b: Long, c: Long): Long = {
    var h = a * 0x9e3779b97f4a7c15L + b * 0xc2b2ae3d27d4eb4fL + c
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h & Long.MaxValue
  }
}

/** Graph whose components are index ranges known by construction: a
  * giant component (a random recursive tree plus about half as many
  * extra edges again), `paths` paths of `pathLen` nodes, and many small
  * random trees of 2–22 nodes. Node index v is published under the id
  * `((v + offset) · M) mod 2⁴⁰`, a seeded bijection, so component minima
  * fall anywhere in a component. Path nodes instead take ids above 2⁴⁰
  * in one fixed order, the same for every seed: the paths need the most
  * rounds, so the round count does not move with the seed.
  */
final class ScatterGraph(seed: Long, val nodes: Int, giantShare: Double,
                         paths: Int, pathLen: Int) extends Serializable {
  val giant: Int = (nodes * giantShare).toInt
  /** Start index of each component, in order; component 0 is the giant. */
  val starts: Array[Int] = {
    val b = mutable.ArrayBuffer(0)
    var at = giant
    (0 until paths).foreach { _ => b += at; at += pathLen }
    val rnd = new java.util.Random(seed)
    while (nodes - at > 22) { b += at; at += 2 + rnd.nextInt(19) }
    b += at
    b.toArray
  }
  private val offset = Workload.mix(seed, 1, 2) & ((1L << 39) - 1)

  private val pathOrder: Array[Long] = {
    val rnd = new java.util.Random(0x9a7L)
    val a = Array.tabulate(pathLen)(_.toLong)
    (pathLen - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  def id(v: Long): Long = {
    val c = compOf(v.toInt)
    if (c >= 1 && c <= paths) (1L << 40) + (c - 1L) * pathLen + pathOrder((v - starts(c)).toInt)
    else ((v + offset) * 0x5851f42d4c957f2dL) & ((1L << 40) - 1)
  }

  private def compOf(v: Int): Int = {
    val i = java.util.Arrays.binarySearch(starts, v)
    if (i >= 0) i else -i - 2
  }

  def end(c: Int): Int = if (c + 1 < starts.length) starts(c + 1) else nodes

  def edges(v: Int): Iterator[(Long, Long)] = {
    val c = compOf(v)
    val s = starts(c)
    def r(k: Long): Long = Workload.mix(seed, v, k)
    def edge(a: Long, b: Long): (Long, Long) =
      if ((r(3) & 1) == 0) (id(a), id(b)) else (id(b), id(a))
    if (v == s) Iterator.empty
    else if (c == 0) {
      val tree = Iterator.single(edge(v, s + r(0) % (v - s)))
      if (r(1) % 2 == 0) tree ++ Iterator.single(edge(v, r(2) % giant)) else tree
    } else if (c <= paths) Iterator.single(edge(v, v - 1))
    else Iterator.single(edge(v, s + r(0) % (v - s)))
  }

  /** Digest of the exact `(node, component-minimum)` labelling. */
  def truth: Digest = starts.indices.foldLeft(Digest.Zero) { (d, c) =>
    val (s, e) = (starts(c), end(c))
    var label = Long.MaxValue
    var a1 = 0L
    var a2 = 0L
    var v = s
    while (v < e) {
      val n = id(v)
      label = math.min(label, n)
      a1 = (a1 + Digest.a1(n)) % Digest.P1
      a2 = (a2 + Digest.a2(n)) % Digest.P2
      v += 1
    }
    d + Digest.component(label, e - s, a1, a2)
  }
}

/** `ConnectedComponents.run` on hash-scattered edges: the alternating
  * fixpoint at full weight, with a skewed giant key.
  */
final class Scatter(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  import spark.implicits._
  val nodes: Int = 30000
  val graph = new ScatterGraph(seed, nodes, giantShare = 0.3, paths = 8, pathLen = 200)
  private val parts = 8
  private var edges: DataFrame = _
  private var edgeCount = 0L
  private var truth: Digest = _
  private var rounds = 0

  def setup(): Unit = {
    val g = graph
    edges = spark.range(0, g.nodes, 1, parts).flatMap(v => g.edges(v.toInt))
      .toDF("src", "dst")
      .repartition(parts, col("src"), col("dst"))
      .localCheckpoint(true)
    edgeCount = edges.count()
    truth = g.truth
  }

  def release(): Unit = checkpointRdd(edges).foreach(_.unpersist(true))

  def op(tr: Option[Tracer]): Op = {
    tr.foreach(_ => starRound(tr))
    val ((result, d), s) = timed {
      within(tr, "fixpoint") { sp =>
        val r = ConnectedComponents.run(edges)
        val d = Digest.sink(r.assignments)
        sp.foreach(_.counts("rounds") = r.iterations)
        (r, d)
      }
    }
    rounds = result.iterations
    checkpointRdd(result.assignments).foreach(_.unpersist(true))
    Op(s, result.converged && d == truth)
  }

  /** One Large-Star + Small-Star round on the input, in its own span. */
  private def starRound(tr: Option[Tracer]): Unit = within(tr, "star") { sp =>
    val ls = StarOps.largeStarLazy(edges)
    val ss = StarOps.smallStar(ls.pairs)
    val large = ls.changeCount()
    val out = Digest.rows(ss.pairs)
    (ls.handles ++ ss.handles).foreach(_.unpersist(true))
    sp.foreach { s =>
      s.counts("pairs_in") = edgeCount
      s.counts("pairs_out") = out
      s.counts("large_changes") = large
      s.counts("small_changes") = ss.changeCount
    }
  }

  def context: Map[String, Any] = Map("nodes" -> nodes, "edges" -> edgeCount,
    "components" -> graph.starts.length, "giant_nodes" -> graph.giant,
    "input_partitions" -> parts, "fixpoint.rounds" -> rounds)
}

/** `CliqueGen` blocks expanded by `EdgeBuilder.cliqueEdgesGen` and solved
  * by `ConnectedComponents.runContracted`: edges grouped by origin. A
  * traced op also applies `DeltasPerOp` delta batches to this graph's
  * standing labels ([[Incremental]]), so the maintenance path is traced
  * on the same base graph.
  */
final class Grouped(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  val blocks: Int = 1000
  val DeltasPerOp = 3
  private var cliques: DataFrame = _
  private var truth: Digest = _
  private var edgeCount = 0L
  private var rounds = -1
  private var maintenance: Option[Incremental] = None

  def setup(): Unit = {
    cliques = CliqueGen.cliques(spark, blocks, seed).localCheckpoint(true)
    truth = Digest.of(CliqueGen.groundTruth(spark, blocks, seed))
    val k = size(col("nodes")).cast("long")
    edgeCount = cliques.agg(sum(when(k === 1L, 1L).otherwise((k * (k - 1L) / 2L).cast("long"))))
      .head().getLong(0)
  }

  def release(): Unit = checkpointRdd(cliques).foreach(_.unpersist(true))

  def op(tr: Option[Tracer]): Op = {
    tr.foreach(_ => within(tr, "expand") { sp =>
      val n = Digest.rows(EdgeBuilder.cliqueEdgesGen(cliques))
      sp.foreach(_.counts("edges_out") = n)
    })
    val ((result, d), s) = timed {
      within(tr, "contract") { sp =>
        val r = ConnectedComponents.runContracted(EdgeBuilder.cliqueEdgesGen(cliques))
        val d = Digest.sink(r.assignments)
        sp.foreach(_.counts("inner_rounds") = r.iterations)
        (r, d)
      }
    }
    rounds = result.iterations
    val deltasOk = tr.forall { _ =>
      val m = maintenance.getOrElse {
        val m = new Incremental(spark, seed, blocks)
        m.setup()
        maintenance = Some(m)
        m
      }
      (1 to DeltasPerOp).map(_ => m.op(tr).ok).forall(identity)
    }
    Op(s, result.converged && d == truth && deltasOk)
  }

  override def retained: Set[Int] = maintenance.map(_.retained).getOrElse(Set.empty)

  def context: Map[String, Any] = Map("blocks" -> blocks, "nodes" -> truth.rows,
    "edges" -> edgeCount, "contract.inner_rounds" -> rounds) ++
    maintenance.map(m => Map("delta" -> m.context)).getOrElse(Map.empty)
}

/** Label maintenance: standing labels of a grouped-shaped base graph
  * (its ground truth, so set-up solves nothing), then a seeded sequence
  * of small delta batches, each applied to the previous batch's output
  * by `IncrementalCC.applyDelta`. Ground truth after each batch comes
  * from the benchmark's own union-find over component merges.
  */
final class Incremental(spark: SparkSession, seed: Long, val blocks: Int)
    extends Workload(spark, seed) {
  import spark.implicits._
  val bridges: Int = 40
  val newEdges: Int = 10
  private var table: DataFrame = _
  private var baseNodes: Array[Long] = _
  private var baseLabels: Array[Long] = _
  private var truth: Truth = _
  private var batch = 0
  private var nextNew = 0L

  /** Union-find over components (keyed by their current minimum) with
    * each root's digest terms, and the digest of the whole table.
    */
  private final class Truth {
    val parent = mutable.HashMap.empty[Long, Long]
    val stats = mutable.HashMap.empty[Long, (Long, Long, Long)] // rows, Σa1, Σa2
    var digest: Digest = Digest.Zero
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    private def contrib(root: Long): Digest = {
      val (n, s1, s2) = stats(root)
      Digest.component(root, n, s1, s2)
    }
    def add(label: Long, rows: Long, s1: Long, s2: Long): Unit = {
      parent(label) = label
      stats(label) = (rows, s1, s2)
      digest = digest + contrib(label)
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        digest = digest - contrib(ra) - contrib(rb)
        val (lo, hi) = (math.min(ra, rb), math.max(ra, rb))
        val (n1, x1, y1) = stats(lo)
        val (n2, x2, y2) = stats.remove(hi).get
        parent(hi) = lo
        stats(lo) = (n1 + n2, (x1 + x2) % Digest.P1, (y1 + y2) % Digest.P2)
        digest = digest + contrib(lo)
      }
    }
  }

  def setup(): Unit = {
    table = CliqueGen.groundTruth(spark, blocks, seed)
      .localCheckpoint(true)
    val rows = table.as[(Long, Long)].collect()
    baseNodes = rows.map(_._1)
    baseLabels = rows.map(_._2)
    truth = new Truth
    rows.groupBy(_._2).foreach { case (label, members) =>
      truth.add(label, members.length,
        members.foldLeft(0L)((s, m) => (s + Digest.a1(m._1)) % Digest.P1),
        members.foldLeft(0L)((s, m) => (s + Digest.a2(m._1)) % Digest.P2))
    }
    batch = 0
    nextNew = 1000L * blocks + 1000000L
  }

  def release(): Unit = checkpointRdd(table).foreach(_.unpersist(true))

  override def retained: Set[Int] = checkpointRdd(table).map(_.id).toSet

  /** Batch `batch`: `bridges` edges between random base nodes (so
    * between random blocks) and `newEdges` edges that bring in new
    * nodes, alternately attached to a base node and paired with
    * another new node. Applied to `truth` as it is generated.
    */
  private def nextBatch(): Seq[(Long, Long)] = {
    val rnd = new java.util.Random(Workload.mix(seed, batch, 7))
    batch += 1
    def base(): Int = rnd.nextInt(baseNodes.length)
    def fresh(): Long = {
      nextNew += 1 + rnd.nextInt(3)
      truth.add(nextNew, 1, Digest.a1(nextNew), Digest.a2(nextNew))
      nextNew
    }
    val bridge = Seq.fill(bridges) {
      val (i, j) = (base(), base())
      truth.union(baseLabels(i), baseLabels(j))
      (baseNodes(i), baseNodes(j))
    }
    val grow = (0 until newEdges).map { k =>
      val n = fresh()
      if (k % 2 == 0) {
        val i = base()
        truth.union(n, baseLabels(i))
        if (rnd.nextBoolean()) (n, baseNodes(i)) else (baseNodes(i), n)
      } else {
        val m = fresh()
        truth.union(n, m)
        (m, n)
      }
    }
    bridge ++ grow
  }

  def op(tr: Option[Tracer]): Op = {
    val delta = nextBatch().toDF("src", "dst")
    val prev = table
    val (d, s) = timed {
      within(tr, "delta") { sp =>
        sp.foreach(_.counts("edges_in") = bridges + newEdges)
        table = IncrementalCC.applyDelta(prev, delta)
          .localCheckpoint(false, StorageLevel.MEMORY_AND_DISK_SER)
        Digest.sink(table)
      }
    }
    checkpointRdd(prev).foreach(_.unpersist(true))
    Op(s, d == truth.digest)
  }

  def context: Map[String, Any] = Map("blocks" -> blocks, "base_nodes" -> baseNodes.length,
    "batch_edges" -> (bridges + newEdges), "bridges" -> bridges, "new_edges" -> newEdges,
    "batches" -> batch, "nodes" -> truth.digest.rows)
}
