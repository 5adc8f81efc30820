package graft.queries

import java.nio.file.Files

import graft.SparkSpec

/** Absolute-correctness pins for the round-6 traversal queries on a
  * hand-computed graph. The DuckDB gate proves CROSS-ENGINE parity; a
  * shared misunderstanding of Brandes/Borůvka semantics would pass it,
  * so this spec checks the numbers against pencil-and-paper truth.
  *
  * Graph (co-purchase from the staged lineitem): path 10–20–30–40 plus
  * isolated part 50 (ordered alone).
  */
class GraphCentralitySpec extends SparkSpec {

  /** Runs `body` on a dir under the scratch root holding `lineitem.parquet`
    * with the given (order, part) rows, and deletes the dir after.
    */
  private def withLineitem[T](rows: Seq[(Long, Long)])(body: String => T): T = {
    val d = Files.createTempDirectory(Scratch.root, "graft_centrality")
    try {
      import spark.implicits._
      rows.toDF("l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
      body(d.toString)
    } finally Scratch.deleteRec(d)
  }

  private val pathRows: Seq[(Long, Long)] =
    Seq((1L, 10L), (1L, 20L), (2L, 20L), (2L, 30L), (3L, 30L), (3L, 40L),
        (4L, 50L))

  test("betweenness on a path graph matches the pencil count") {
    // All 5 nodes are seeds (≤ 8). Ordered pairs routed through an
    // inner node of the path: 20 carries (10,30),(10,40),(30,10),(40,10)
    // = 4 → 4·10⁶ ppm; 30 symmetric; endpoints carry 0. The isolate 50
    // is scored by NO foreign seed (it is only ever its own source, and
    // a node's own-seed row is excluded per Brandes), so it emits no
    // row — matching the oracle's identical node <> seed filter.
    val rows = withLineitem(pathRows)(GraphQueries.betweennessFrom(spark, _, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(rows === Seq((20L, 4000000L), (30L, 4000000L),
      (10L, 0L), (40L, 0L)))
  }

  test("betweenness radius bound survives the r15 saturation exit " +
       "(deep path: BFS never saturates, 6-hop cap still applies)") {
    // Path 10–20–…–90 (8 hops) from the single seed 10: the r15 loop
    // exits early when every seed's BFS saturates its component — here
    // it never does (node 90 is 8 > 6 hops away), so the 6-level radius
    // bound must still cap the walk. Pencil truth with one seed: levels
    // 1..6 reach 20..70; backward Brandes on a path gives the node at
    // level k dependency (6−k)·10⁶ ppm; 80 and 90 are never visited and
    // emit no row; the seed's own row is excluded.
    val deepPath = (1 to 8).map(i => (i.toLong, Seq(i * 10L, (i + 1) * 10L)))
      .flatMap { case (o, ns) => ns.map(n => (o, n)) }
    val rows = withLineitem(deepPath)(GraphQueries.betweennessFrom(spark, _, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(rows === Seq((20L, 5000000L), (30L, 4000000L), (40L, 3000000L),
      (50L, 2000000L), (60L, 1000000L), (70L, 0L)))
  }

  test("affinity clustering finds the two mutual-best pairs + singleton") {
    // Edge hash weights: w(30,40)=217567 < w(10,20)=567820 < w(20,30)=
    // 892685, so 20 points to 10 and 30 points to 40 — mutual pairs
    // {10,20} and {30,40}; part 50 is its own cluster.
    val rows = withLineitem(pathRows)(GraphQueries.affinity(spark, _)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(rows === Seq((1L, 1L), (2L, 2L)))
  }
}
