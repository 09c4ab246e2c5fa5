package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative connected components over a near-duplicate pair graph —
  * the closure pass that turns pairwise matches into dedup groups
  * (one-hop dropping misses chains: a~b, b~c ⇒ {a,b,c} is one group
  * even when a≁c directly).
  *
  * Algorithm: hash-min label propagation. Every vertex starts labeled
  * with itself; each round, a vertex adopts the minimum label among
  * itself and its neighbors; stop when no label changes. Rounds are
  * O(graph diameter) — near-dup graphs are overwhelmingly small star
  * clusters, so 3-5 rounds suffice in practice (maxIter caps it).
  *
  * Scale notes: each round is one shuffle (groupBy vertex). Frames are
  * localCheckpoint()ed per round to cut the growing lineage — without
  * it, round k replans the whole k-deep DAG. For graphs with billions
  * of edges use the large-star/small-star variant; this direct
  * propagation is right for dedup-shaped (sparse, shallow) graphs.
  */
object ConnectedComponents {

  /** @param pairs two-column frame of undirected edges (src, dst)
    * @return (vertex, component) — component = min vertex id reachable
    */
  def run(pairs: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 10): DataFrame = {
    val edges = canonEdges(pairs, srcCol, dstCol)
    hashMin(edges, edges.count(), maxIter)._1
  }

  /** Auto-dispatch between [[run]] (hash-min, O(diameter) rounds — the
    * dedup-graph fast path) and [[runTwoPhase]] (O(log² n) rounds — the
    * billion-edge / long-chain path). Strategy: huge edge sets go
    * straight to two-phase (hash-min's per-round full-edge shuffle is
    * the wrong cost shape there); otherwise try hash-min for
    * `hashMinRounds` rounds and fall over to two-phase if the label
    * fixpoint hasn't landed — the round-progress signal IS the diameter
    * probe, no separate estimation pass.
    */
  def auto(pairs: DataFrame, srcCol: String, dstCol: String,
      hashMinRounds: Int = 5, twoPhaseEdges: Long = 50000000L): DataFrame =
    autoWithStrategy(pairs, srcCol, dstCol, hashMinRounds, twoPhaseEdges)._2

  /** [[auto]] plus which algorithm produced the answer ("hash-min" |
    * "two-phase") — exposed for tests and plan audits.
    */
  private[ext] def autoWithStrategy(
      pairs: DataFrame, srcCol: String, dstCol: String,
      hashMinRounds: Int, twoPhaseEdges: Long): (String, DataFrame) = {
    val edges0 = canonEdges(pairs, srcCol, dstCol)
    val nEdges = edges0.count()
    if (nEdges > twoPhaseEdges)
      ("two-phase", runTwoPhase(edges0, "a", "b"))
    else {
      val (labels, converged) = hashMin(edges0, nEdges, hashMinRounds)
      if (converged) ("hash-min", labels)
      else ("two-phase", runTwoPhase(edges0, "a", "b"))
    }
  }

  /** Edge frame in canonical (a, b) long columns, materialized once:
    * unions/iterations reference it many times — an expensive upstream
    * plan (e.g. a similarity join) must not re-run per reference.
    */
  private def canonEdges(pairs: DataFrame, srcCol: String, dstCol: String): DataFrame =
    pairs
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .localCheckpoint()

  /** Hash-min propagation loop; returns (labels, converged). */
  private def hashMin(edges0: DataFrame, nEdges: Long,
      maxIter: Int): (DataFrame, Boolean) = {
    // size the iteration width to the graph, not the session default:
    // dedup graphs are usually tiny relative to the corpus, and paying
    // 32 shuffle tasks per round for a few hundred edges makes each
    // round scheduling-bound. ~500k edges per partition.
    val parts = Rounds.width(edges0.sparkSession, nEdges, 500000L)
    val edges = edges0.repartition(parts)
    val undirected = edges.unionByName(
      edges.select(col("b").as("a"), col("a").as("b"))).distinct()
      .localCheckpoint()

    // Convergence check: labels are monotone non-increasing under
    // hash-min propagation, so the label sum strictly decreases until
    // the fixpoint. The sum rides on each round's checkpoint job
    // ([[Rounds.checkpointObserved]]); it is an exact decimal because a
    // long sum could overflow under ANSI on billions of large ids.
    def checkpointWithSum(df: DataFrame): (DataFrame, java.math.BigDecimal) = {
      val (ck, r) = Rounds.checkpointObserved(df, "graft_cc_sum",
        sum(col("component").cast("decimal(38,0)")).as("label_sum"))
      (ck, r.getDecimal(0))
    }

    var (labels, prevSum) = checkpointWithSum(
      undirected.select(col("a").as("vertex")).distinct()
        .withColumn("component", col("vertex"))
        .repartition(parts, col("vertex")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      iter += 1
      // neighbor labels: for each edge a->b, b's current label
      val neighborLabels = undirected
        .join(labels.withColumnRenamed("vertex", "b"), "b")
        .select(col("a").as("vertex"), col("component"))
      val (ck, s) = checkpointWithSum(
        labels.unionByName(neighborLabels)
          .groupBy("vertex")
          .agg(min(col("component")).as("component")))
      labels = ck
      converged = s == prevSum
      prevSum = s
    }
    (labels, converged)
  }

  /** Alternating large-star/small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    * the variant for graphs where hash-min struggles: long chains
    * (diameter-many rounds) and extreme-degree hubs (the hub's full
    * neighbor list re-shuffles every round). Star operations contract
    * paths toward per-neighborhood minima, converging in O(log² n)
    * rounds regardless of diameter, one groupBy-shuffle per star pass.
    *
    *  - large-star: every neighbor v > u links to min(N(u) ∪ {u})
    *  - small-star: every neighbor v ≤ u (≠ min) links to min(N(u) ∪ {u})
    *
    * Fixpoint: the edge multiset is stable under small-star — checked
    * with a count + order-insensitive hash-sum (two scalar aggregates,
    * no driver-side data). Output matches [[run]]: (vertex, component =
    * min reachable id); the spec asserts equality on randomized graphs.
    */
  def runTwoPhase(pairs: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 20): DataFrame = {
    def canon(e: DataFrame): DataFrame = e
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct()

    def largeStar(e: DataFrame): DataFrame = {
      val und = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val m = und.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      canon(und.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }

    def smallStar(e: DataFrame): DataFrame = {
      val oriented = canon(e) // key on the larger endpoint
      val m = oriented.groupBy("u").agg(min(col("v")).as("m"))
      val linked = oriented.join(m, "u")
      canon(
        linked.filter(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
        .unionByName(linked.select(col("u"), col("m").as("v"))))
    }

    // stable signature of the canonical (distinct) edge set: XOR of
    // per-edge hashes — order-insensitive and overflow-free under
    // ANSI — observed on each star round's checkpoint job.
    def checkpointWithSig(e: DataFrame): (DataFrame, (Long, Long)) = {
      val (ck, r) = Rounds.checkpointObserved(e, "graft_cc2_sig",
        count(lit(1)).as("n"),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("h"))
      (ck, (r.getLong(0), r.getLong(1)))
    }

    var (edges, sig) = checkpointWithSig(canon(pairs
      .select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      iter += 1
      val (ck, s) = checkpointWithSig(smallStar(largeStar(edges)))
      edges = ck
      converged = s == sig
      sig = s
    }
    // stars: non-roots point at their component root; roots appear only
    // as targets, so they self-map through the v side
    edges.select(col("u").as("vertex"), col("v").as("component"))
      .unionByName(edges.select(col("v").as("vertex"), col("v").as("component")))
      .groupBy("vertex").agg(min(col("component")).as("component"))
  }

  /** Full-closure dedup: keep the canonical (min-id) doc per component;
    * non-canonical members of any component are dropped.
    */
  def dropByComponents(docs: DataFrame, idCol: String, pairs: DataFrame,
      srcCol: String = "doc_a", dstCol: String = "doc_b"): DataFrame = {
    val comp = auto(pairs, srcCol, dstCol)
    val losers = comp.filter(col("vertex") =!= col("component"))
      .select(col("vertex").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Full-closure dedup keeping the BEST member per component: the row
    * with the highest `score` (ties → lowest id) survives — the rule a
    * training pipeline actually wants when near-duplicates differ in
    * quality (truncation, boilerplate wrap, OCR noise), vs
    * [[dropByComponents]]' id-canonical pick. Docs untouched by any
    * pair are their own singleton component and always survive.
    *
    * Scale shape: the closure itself (see [[auto]]) + one broadcast-
    * size join of (vertex → component) onto the corpus + one window
    * rank per component — the window shuffle is keyed by component id,
    * whose cardinality is the number of dup CLUSTERS, with per-group
    * size = cluster size (tiny); no new scale hazard beyond the
    * closure.
    */
  def keepBestByComponents(docs: DataFrame, idCol: String,
      score: org.apache.spark.sql.Column, pairs: DataFrame,
      srcCol: String = "doc_a", dstCol: String = "doc_b"): DataFrame = {
    val comp = auto(pairs, srcCol, dstCol)
      .withColumnRenamed("vertex", idCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__comp")).orderBy(score.desc, col(idCol))
    docs.join(comp, Seq(idCol), "left")
      .withColumn("__comp", coalesce(col("component"), col(idCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("component", "__comp", "__rn")
  }
}
