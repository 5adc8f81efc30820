package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry consistency. Each [[graft.queries.Query]] carries its own
  * oracle, so a query without an oracle (or an oracle without a query)
  * cannot be written. What the type cannot rule out is one name listed
  * twice: `toMap` keeps only the last entry, and the shadowed
  * implementation would silently never be graded. Nor can it rule out
  * an oracle that labels components its own way instead of through
  * [[graft.queries.Oracles.minLabel]].
  */
class RegistrySpec extends AnyFunSuite {

  test("no query name is registered by two modules") {
    val collisions = SparkEntry.registry.groupBy(_.name).filter(_._2.size > 1)
    assert(collisions.isEmpty,
      s"query names registered more than once: ${collisions.keys.toSeq.sorted}")
  }

  /** The queries whose oracles label components (min node id per
    * component) and so must go through the certified fragment.
    */
  private val componentLabelling = Set(
    "cc_copurchase", "cc_components", "cc_graphx", "cc_percolation",
    "cc_size_hist", "cc_incremental", "cc_decremental",
    "stream_cc_incremental", "stream_cc_decremental",
    "dedup_minhash_clusters", "dedup_simhash_clusters",
    "dedup_embedding_clusters", "dedup_embedding_ann", "pipe_dedup_merge",
    "er_entity_clusters", "er_golden", "geo_dbscan", "media_phash_clusters")

  test("component-labelling oracles use the certified minLabel fragment, never a walk") {
    val oracles = SparkEntry.oracleSql
    // A reachability walk: a CTE `x(node, comp)` seeded with (node, node)
    // rows. It holds O(Σ component²) rows.
    val walk = """\b\w+\(\w+, comp\) AS \(\s*SELECT (\w+), \1 FROM""".r
    val walks = oracles.collect { case (n, sql) if walk.findFirstIn(sql).isDefined => n }
    assert(walks.isEmpty, s"oracles with a component walk: ${walks.toSeq.sorted}")
    val certificate = "min-label oracle: not a fixpoint"
    val uncertified = componentLabelling.filterNot(n => oracles(n).contains(certificate))
    assert(uncertified.isEmpty, s"labelling oracles without minLabel: ${uncertified.toSeq.sorted}")
  }
}
