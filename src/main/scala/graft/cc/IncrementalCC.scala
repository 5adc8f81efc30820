package graft.cc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The incremental label-maintenance algebra, shared by the batch query
  * (`graph` family `cc_incremental`), both streaming maintenance sinks
  * (`stream_cc_incremental` / `stream_cc_decremental`), and the scale
  * probe (`CCScaleProbe incremental`) — one implementation, one set of
  * invariants:
  *
  *   1. contract delta endpoints through the standing labels (unseen
  *      nodes map to themselves),
  *   2. solve the LABEL-LEVEL graph only (# touched labels + new nodes
  *      — orders of magnitude smaller than the corpus),
  *   3. rebase the standing table through the label-graph solution,
  *   4. union nodes the delta introduced that the base never saw.
  *
  * Because standing labels are component MINIMA, the label-graph
  * minimum is the merged component's global minimum, so the composed
  * table is bit-identical to a from-scratch solve of base ∪ delta —
  * the property every gate row over this algebra grades.
  *
  * Scale shape: two hash joins of the delta against the label table
  * (delta is the small side and broadcasts) + the label-graph fixpoint
  * + one full-table rebase join; nothing re-solves the base graph.
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
}
