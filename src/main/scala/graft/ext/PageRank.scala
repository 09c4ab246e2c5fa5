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
  * dst; outdeg is computed once and reused; ranks are
  * `localCheckpoint`ed per round so lineage stays flat over any
  * iteration count (the [[ConnectedComponents]] recipe). Driver state
  * is one scalar (N).
  */
object PageRank {

  val Scale = 1000000000000L // 10^12 fixed-point

  /** (node, rank_e12) after `iters` rounds over `edges(srcCol, dstCol)`.
    * Node set = every id appearing as src or dst.
    *
    * `checkpointEvery` bounds lineage depth: rounds in between stay
    * LAZY (one fused multi-round plan — cheaper than materializing
    * every round), and every k-th round cuts the tree so planning time
    * stays flat at high iteration counts. The cadence cannot change a
    * single output bit — the arithmetic is integer — so it is purely a
    * lineage/planning dial (spec-pinned).
    */
  def run(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      dampingPct: Int = 85,
      checkpointEvery: Int = 5): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    require(dampingPct >= 0 && dampingPct <= 100, "dampingPct in [0,100]")
    require(checkpointEvery > 0, "checkpointEvery must be positive")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).cache()
    val nodes0 = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
    val n = nodes0.count() // eager, one driver scalar
    // graph-sized width for the node cache ([[Rounds.width]]; coalesce,
    // no shuffle): values are partition-invariant integer arithmetic,
    // so this is purely a scheduling dial.
    val parts = Rounds.width(edges.sparkSession, n, 2000000L)
    val nodes = nodes0.coalesce(parts).cache()
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .coalesce(parts).cache()
    val base = (Scale / 100L) * (100L - dampingPct) / math.max(n, 1L)

    var ranks = nodes
      .withColumn("rank_e12", lit(Scale / math.max(n, 1L)))
    for (i <- 1 to iters) {
      val contribs = e
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .join(outdeg, "src")
        .select(col("dst").as("node"),
          expr("rank_e12 DIV outdeg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("in_sum"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(base) +
            expr(s"($dampingPct * coalesce(in_sum, 0)) DIV 100"))
            .as("rank_e12"))
      if (i % checkpointEvery == 0 && i < iters) ranks = ranks.localCheckpoint()
    }
    // final materialization before dropping the caches it depends on
    ranks = ranks.localCheckpoint()
    e.unpersist(); nodes.unpersist(); outdeg.unpersist()
    ranks
  }

  /** Personalized PageRank (TrustRank, Gyöngyi et al. 2004): identical
    * integer arithmetic, but the teleport mass lands ONLY on the seed
    * set — initial rank `10¹² DIV |S|` on seeds / 0 elsewhere, and the
    * per-round base term `(15·10¹² DIV 100) DIV |S|` is multiplied by
    * the node's seed flag. Rank becomes "authority flowing out of the
    * trusted set", the standard trust-propagation weighting for web
    * corpora (complementing [[ShortestPaths.hopLevels]]' hop
    * distance with a damped, degree-normalized measure). Seeds are
    * intersected with the graph's node set; same bit-exactness and
    * lineage-cadence contract as [[run]].
    */
  def personalized(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      iters: Int,
      dampingPct: Int = 85,
      checkpointEvery: Int = 5): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    require(dampingPct >= 0 && dampingPct <= 100, "dampingPct in [0,100]")
    require(checkpointEvery > 0, "checkpointEvery must be positive")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).cache()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
    val sd = seeds.select(col(seeds.columns.head).as("node")).distinct()
    val flagged0 = nodes
      .join(sd.withColumn("is_seed", lit(1L)), Seq("node"), "left")
      .select(col("node"), coalesce(col("is_seed"), lit(0L)).as("is_seed"))
    // one scalar job yields both counts; the node frame then caches at
    // graph-sized width (see run()'s parts rationale)
    val cnts = flagged0
      .agg(count(lit(1)).as("n"), sum(col("is_seed")).as("s")).head()
    val n = cnts.getLong(0)
    val nSeeds = if (cnts.isNullAt(1)) 0L else cnts.getLong(1)
    require(nSeeds > 0, "no seed intersects the graph's node set")
    val parts = Rounds.width(edges.sparkSession, n, 2000000L)
    val flagged = flagged0.coalesce(parts).cache()
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .coalesce(parts).cache()
    val base = (Scale / 100L) * (100L - dampingPct) / nSeeds

    var ranks = flagged
      .select(col("node"), (col("is_seed") * lit(Scale / nSeeds)).as("rank_e12"))
    for (i <- 1 to iters) {
      val contribs = e
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .join(outdeg, "src")
        .select(col("dst").as("node"),
          expr("rank_e12 DIV outdeg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("in_sum"))
      ranks = flagged.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (col("is_seed") * lit(base) +
            expr(s"($dampingPct * coalesce(in_sum, 0)) DIV 100"))
            .as("rank_e12"))
      if (i % checkpointEvery == 0 && i < iters) ranks = ranks.localCheckpoint()
    }
    ranks = ranks.localCheckpoint()
    e.unpersist(); flagged.unpersist(); outdeg.unpersist()
    ranks
  }
}
