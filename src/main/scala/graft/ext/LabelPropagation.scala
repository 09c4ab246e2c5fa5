package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration synchronous label propagation (Raghavan et al.
  * 2007) — community detection for the link-graph tier: after a few
  * rounds, densely connected vertex groups converge onto one label,
  * the standard cheap community signal a crawl pipeline uses to group
  * mirror farms / template families before sampling.
  *
  * Classic async LPA is order-dependent; this is the DETERMINISTIC
  * synchronous variant the oracle can replay: every round, each node
  * adopts the most frequent label among its neighbors' previous-round
  * labels, ties broken by SMALLEST label, isolated nodes keep their
  * own. Fixed `iters` (no convergence probe — synchronous LPA can
  * 2-cycle on bipartite structures, so a fixed horizon is the honest
  * contract), all arithmetic integral ⇒ bit-identical on any engine or
  * partitioning, like [[PageRank]]/[[Hits]].
  *
  * Scale shape: per round one (node,label) count aggregate and one
  * node-keyed window for the argmax — both plain hash exchanges on
  * frames bounded by the neighbor-label multiset; the rounds run on
  * [[Rounds.fixed]] (flat lineage). Edges are taken as DIRECTED
  * adjacency: pass a symmetrized frame for undirected semantics (the
  * q169 gate does).
  */
object LabelPropagation {

  /** (node, label) after `iters` synchronous rounds over
    * `edges(srcCol, dstCol)`: node pulls labels from the dst of its
    * out-edges. Node set = every id appearing as src or dst; initial
    * label = own id. Parallel edges act as weights.
    */
  def run(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    val g = Rounds.graph(edges, srcCol, dstCol)
    // the label frame has EXACTLY n rows, so the per-round joins
    // broadcast by that exact count ([[Rounds.broadcastable]])
    def small(df: DataFrame): DataFrame =
      if (Rounds.broadcastable(g.n)) broadcast(df) else df
    val labels = Rounds.fixed(g.nodes.withColumn("label", col("node")), iters,
        materialize = true) { labels =>
      // argmax(count, ties smallest label) as ONE hash aggregate:
      // max(struct(c, ~label)) picks the largest count and, among
      // ties, the largest ~label = the SMALLEST label (bitwise NOT is
      // total and strictly decreasing on longs — no overflow corner,
      // unlike negation at Long.MinValue). Replaces the row_number
      // window, whose per-node sort needed a second full exchange +
      // sort of the neighbor-label multiset; the second aggregate is
      // map-side partial and node-keyed (guide §2.3/§2.4).
      // LabelPropagationSpec pins equality against the window form.
      val picked = g.edges
        .join(small(labels).withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(max(struct(col("c"), bitwise_not(col("label")).as("nl"))).as("m"))
        .select(col("node"), bitwise_not(col("m.nl")).as("label"))
      g.nodes
        .join(small(picked).withColumnRenamed("label", "new_label"),
          Seq("node"), "left")
        .select(col("node"),
          coalesce(col("new_label"), col("node")).as("label"))
    }
    g.release()
    labels
  }
}
