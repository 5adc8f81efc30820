package graft.cc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The label-maintenance algebra, shared by the batch queries
  * (`graph` family `cc_incremental` / `cc_decremental`), both streaming
  * maintenance sinks (`stream_cc_incremental` / `stream_cc_decremental`)
  * and the scale probe (`CCScaleProbe incremental`) — one
  * implementation, one set of invariants.
  *
  * [[applyDelta]] absorbs ADDED edges:
  *   1. contract delta endpoints through the standing labels (unseen
  *      nodes map to themselves),
  *   2. solve the LABEL-LEVEL graph only (# touched labels + new nodes
  *      — orders of magnitude smaller than the corpus),
  *   3. rebase the standing table through the label-graph solution,
  *   4. union nodes the delta introduced that the base never saw.
  * Over an empty table every delta node is new, so the first batch of a
  * maintained table is the same call.
  *
  * [[applyDeletion]] absorbs DELETED edges. Deletions can split
  * components, so no label-graph shortcut exists, but the damage is
  * contained: only components holding an endpoint of a deleted edge can
  * change. It re-solves those components' surviving edges and keeps
  * every other label untouched. Precondition: `survivingEdges` is a
  * subset of the edges of the graph `labels` solves, and `deletedNodes`
  * holds every endpoint of the edges removed from it.
  *
  * Because standing labels are component MINIMA, both results are
  * bit-identical to a from-scratch solve of base ∪ delta (resp. of the
  * surviving graph) — the property every gate row over this algebra
  * grades.
  *
  * Scale shape: a delta costs two hash joins against the label table
  * (delta is the small side and broadcasts) + the label-graph fixpoint
  * + one full-table rebase join; a deletion costs two hash joins
  * (deleted nodes → components → surviving edges) + a re-solve of the
  * affected slice, degrading to a full re-solve only when every
  * component is touched. Neither re-solves the untouched region.
  */
object IncrementalCC {

  /** One maintenance step: `base` is the standing (node, component)
    * table, `delta` the new (src, dst) edges. Returns the next
    * (node, component) table (unordered).
    */
  def applyDelta(base: DataFrame, delta: DataFrame): DataFrame = {
    val labelEdges = delta
      .join(base.toDF("src", "src_lbl"), Seq("src"), "left")
      .join(base.toDF("dst", "dst_lbl"), Seq("dst"), "left")
      .select(coalesce(col("src_lbl"), col("src")).as("src"),
              coalesce(col("dst_lbl"), col("dst")).as("dst"))
    val inner = ConnectedComponents.runAuto(labelEdges)
    val rebased = base
      .join(inner.assignments.toDF("component", "new_component"),
        Seq("component"), "left")
      .select(col("node"),
        coalesce(col("new_component"), col("component")).as("component"))
    // Nodes introduced by the delta (never seen in base): their ids
    // appear verbatim in the label graph, so the inner solve labels
    // them directly.
    val deltaOnly = delta.select(col("src").as("node"))
      .unionAll(delta.select(col("dst").as("node")))
      .distinct()
      .join(base.select("node"), Seq("node"), "left_anti")
      .join(inner.assignments.toDF("node", "component"), Seq("node"), "left")
    rebased.unionAll(deltaOnly)
  }

  /** One deletion step: `labels` is the standing (node, component)
    * table, `deletedNodes` a `node` column holding every endpoint of
    * the deleted edges, `survivingEdges` the (src, dst) edges left.
    * Precondition: `survivingEdges` ⊆ the edges of the graph `labels`
    * solves, so both endpoints of a surviving edge share one standing
    * component. Returns the (node, component) table of the surviving
    * graph (unordered); a node whose every edge was deleted leaves it.
    */
  def applyDeletion(labels: DataFrame, deletedNodes: DataFrame,
      survivingEdges: DataFrame): DataFrame = {
    val affected = labels.join(deletedNodes, Seq("node"))
      .select("component").distinct()
    // One endpoint lookup places an edge: by the precondition its
    // other endpoint has the same standing component.
    val affectedEdges = survivingEdges
      .join(labels.toDF("src", "component"), Seq("src"))
      .join(affected, Seq("component"), "left_semi")
      .select("src", "dst")
    val resolved = ConnectedComponents.runAuto(affectedEdges).assignments
    labels.join(affected, Seq("component"), "left_anti")
      .select(col("node"), col("component"))
      .unionAll(resolved)
  }
}
