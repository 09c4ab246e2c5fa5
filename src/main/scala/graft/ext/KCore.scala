package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core peeling — the graph-density primitive that isolates the
  * cohesive core (every surviving vertex keeps ≥ k surviving
  * neighbors) from the pendant fringe: spam-farm / template-cluster
  * extraction on link graphs, dense-community seeds on co-occurrence
  * graphs ([[Triangles]] measures transitivity; the core is where it
  * concentrates).
  *
  * Synchronous peel (Matula & Beck 1983, distributed form): each round
  * recomputes degrees over the SURVIVING edge set and drops every
  * vertex below k, with both endpoints' edges. A FIXED round count
  * keeps the result a pure function of (edges, k, rounds) — exactly
  * replayable by unrolled SQL — and is monotone: once the peel reaches
  * its fixed point (no vertex below k), further rounds are no-ops, so
  * `rounds` ≥ the peel depth yields the true k-core. Peel depth is
  * typically far below the vertex count (each round must delete ≥ 1
  * vertex to continue), and [[converged]] on the result costs one agg
  * when callers need proof.
  *
  * Scale shape: per round, one degree hash-agg and two left-semi joins
  * keyed on the vertex — nothing collected; the rounds run on
  * [[Rounds.fixed]], whose lazy per-round cut lets the keep side and
  * both semi-join probes of round r+1 share round r's blocks.
  */
object KCore {

  /** Surviving (v, deg) after `rounds` synchronous peels at threshold
    * `k` over an undirected (a, b) edge list. Empty when the graph has
    * no k-core.
    */
  def peel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    def degrees(ed: DataFrame): DataFrame =
      ed.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // no round's result is read back, so no cut is eager
    val e = Rounds.fixed(edges.select(col("a"), col("b")), rounds,
        materialize = false) { e =>
      val keep = degrees(e).filter(col("deg") >= k).select(col("v"))
      e.join(keep.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
    }
    degrees(e)
  }

  /** True iff `peeled` (the output of [[peel]]) reached its fixed
    * point — no surviving vertex sits below k, so it IS the k-core.
    */
  def converged(peeled: DataFrame, k: Int): Boolean =
    peeled.filter(col("deg") < k).isEmpty
}
