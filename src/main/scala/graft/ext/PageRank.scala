package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank in PURE INTEGER ARITHMETIC — the
  * link-authority score (Page et al. 1999) used by web-corpus
  * pipelines to weight domains/pages when sampling training data.
  *
  * Ranks are fixed-point longs at scale 10¹² (`rank_e12`), and every
  * operation is integer: contribution = `rank DIV outdeg`, damping =
  * `(85·Σ) DIV 100`, base = `(15·10¹²) DIV (100·N)`. No floating
  * point ⇒ no summation-order low bits, no decimal→double conversion
  * ulps, no libm — the result is bit-identical on ANY engine,
  * partitioning, or merge order (the reproducibility trick that makes
  * an iterative distributed computation exactly oracle-able; same
  * motivation as TfIdf's reciprocal-df and CharStats' Simpson).
  * Truncating divisions leak ≤ outdeg·10⁻¹² mass per node per round —
  * Σrank only ever drifts DOWN from 10¹², bounded by the spec.
  *
  * Dangling nodes (no out-edges) keep receiving the base term but
  * contribute nothing — their mass evaporates rather than being
  * redistributed (the common simplification; documented, and exactly
  * mirrored in the oracle). Parallel edges act as weights (a u→v
  * appearing k times contributes k·(rank DIV outdeg), with outdeg
  * counting edge instances).
  *
  * Scale shape: per iteration, ONE shuffle keyed on src for the
  * (edges ⋈ ranks ⋈ outdeg) contribution join and one agg shuffle on
  * dst; outdeg is computed once and reused; the rounds run on
  * [[Rounds.fixed]], which cuts their lineage so the plan stays flat
  * over any iteration count. Two scalars are collected: N and the
  * teleport-set size.
  */
object PageRank {

  val Scale = 1000000000000L // 10^12 fixed-point

  /** (node, rank_e12) after `iters` rounds over `edges(srcCol, dstCol)`.
    * Node set = every id appearing as src or dst. Every node is a
    * teleport target, so this is [[personalized]] with all nodes as
    * seeds (spec-pinned bit-equal).
    */
  def run(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      dampingPct: Int = 85): DataFrame =
    rank(edges, srcCol, dstCol, iters, dampingPct,
      _.withColumn("teleport", lit(1L)))

  /** Personalized PageRank (TrustRank, Gyöngyi et al. 2004): identical
    * integer arithmetic, but the teleport mass lands ONLY on the seed
    * set — initial rank `10¹² DIV |S|` on seeds / 0 elsewhere, and the
    * per-round base term `(15·10¹² DIV 100) DIV |S|` is multiplied by
    * the node's seed flag. Rank becomes "authority flowing out of the
    * trusted set", the standard trust-propagation weighting for web
    * corpora (complementing [[ShortestPaths.hopLevels]]' hop
    * distance with a damped, degree-normalized measure). Seeds are
    * intersected with the graph's node set, and an empty intersection
    * is rejected unless the graph itself is empty (both operators give
    * an empty frame then); same bit-exactness contract as [[run]].
    */
  def personalized(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      iters: Int,
      dampingPct: Int = 85): DataFrame = {
    val sd = seeds.select(col(seeds.columns.head).as("node")).distinct()
      .withColumn("is_seed", lit(1L))
    rank(edges, srcCol, dstCol, iters, dampingPct, nodes =>
      nodes.join(sd, Seq("node"), "left")
        .select(col("node"), coalesce(col("is_seed"), lit(0L)).as("teleport")))
  }

  /** The one round loop. `teleport` flags each node of the census
    * with 1 (teleport target) or 0; the flag count |S| rides on the
    * census job. Initial rank is `flag · (10¹² DIV |S|)` and each round
    * gives `flag · base + (d · Σ in-contributions) DIV 100`.
    */
  private def rank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, dampingPct: Int,
      teleport: DataFrame => DataFrame): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    require(dampingPct >= 0 && dampingPct <= 100, "dampingPct in [0,100]")
    val g = Rounds.graph(edges, srcCol, dstCol, teleport,
      Seq(sum(col("teleport"))))
    val nSeeds = if (g.census.isNullAt(1)) 0L else g.census.getLong(1)
    val seedless = nSeeds == 0L && g.n > 0L
    if (seedless) g.release()
    require(!seedless, "no seed intersects the graph's node set")
    val outdeg = g.edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .coalesce(g.parts).cache()
    val base = (Scale / 100L) * (100L - dampingPct) / math.max(nSeeds, 1L)
    val init = g.nodes.select(col("node"),
      (col("teleport") * lit(Scale / math.max(nSeeds, 1L))).as("rank_e12"))
    val ranks = Rounds.fixed(init, iters, materialize = true) { ranks =>
      val contribs = g.edges
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .join(outdeg, "src")
        .select(col("dst").as("node"),
          expr("rank_e12 DIV outdeg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("in_sum"))
      g.nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (col("teleport") * lit(base) +
            expr(s"($dampingPct * coalesce(in_sum, 0)) DIV 100"))
            .as("rank_e12"))
    }
    g.release(); outdeg.unpersist()
    ranks
  }
}
