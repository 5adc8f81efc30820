package graft.queries

/** SQL fragments that oracle strings share. */
object Oracles {

  /** The paper's CC contract as oracle SQL: every node labelled with the
    * minimum node id of its connected component (Kiveris et al.).
    *
    * Returns CTE text for a `WITH RECURSIVE` clause. It defines
    * `<out>(node, comp)` plus helper CTEs named `<out>_*`. `nodes` is a
    * relation with a `node` column, `edges` one with `src` and `dst`;
    * each is a CTE name or a parenthesised SELECT. Edges are undirected:
    * either orientation, duplicates and self-loops are all fine.
    *
    * Full-state min-label propagation that halts on the first round
    * that changes no label (Pregelix's vote-to-halt): each round gives
    * every node the least label of itself and its neighbours. Labels
    * only decrease, so it terminates, and it holds O(rounds × nodes)
    * rows, where a reachability walk holds O(Σ component²). The edges
    * and the final labels are MATERIALIZED: DuckDB inlines a plain CTE
    * at each reference, so it would re-evaluate the caller's edge CTE
    * on every round and the whole propagation once per certificate
    * probe.
    *
    * Certificate: `<out>` raises `error(...)` unless every edge endpoint
    * is a node and both endpoints of every edge carry one label. Labels
    * are ids that travelled along edges and never exceed the node's own
    * id, so a label constant on each component is its minimum.
    */
  def minLabel(out: String, nodes: String, edges: String): String = s"""
${out}_e AS MATERIALIZED (
  SELECT unnest([src, dst]) AS src, unnest([dst, src]) AS dst FROM $edges
),
${out}_it(it, node, comp, ch) AS (
  SELECT 0, node, node, true FROM $nodes
  UNION ALL
  SELECT it + 1, node, comp, bool_or(comp < old) OVER () FROM (
    SELECT w.it, w.node, w.comp AS old, least(w.comp, min(v.comp)) AS comp
    FROM ${out}_it w
    LEFT JOIN ${out}_e e ON e.src = w.node
    LEFT JOIN ${out}_it v ON v.node = e.dst
    WHERE w.ch GROUP BY w.it, w.node, w.comp)
),
${out}_fix AS MATERIALIZED (
  SELECT node, comp FROM ${out}_it QUALIFY it = max(it) OVER ()
),
${out}_bad AS (
  SELECT CASE
    WHEN EXISTS (SELECT 1 FROM ${out}_e e ANTI JOIN ${out}_fix f ON f.node = e.src)
      THEN error('min-label oracle: an edge endpoint is not in the node relation')
    WHEN EXISTS (SELECT 1 FROM ${out}_e e
                 JOIN ${out}_fix a ON a.node = e.src
                 JOIN ${out}_fix b ON b.node = e.dst
                 WHERE a.comp <> b.comp)
      THEN error('min-label oracle: not a fixpoint')
    ELSE false END AS bad
),
$out(node, comp) AS (
  SELECT node, comp FROM ${out}_fix WHERE NOT (SELECT bad FROM ${out}_bad)
)"""
}
