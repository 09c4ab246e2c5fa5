package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Partitioning
import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over an embedding column
  * (`ArrayType(FloatType)`).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k via broadcast cross join —
  *    the baseline, correct at any recall, O(|Q|·|C|·d). Right when the
  *    query set is small (the common "probe a corpus" shape).
  *  - [[lshTopK]]: sign-random-projection LSH — L hash tables of m
  *    hyperplane-sign bits; candidates = bucket collisions in any table;
  *    exact cosine re-rank of candidates. Index side scales linearly
  *    (L entries per vector, shuffled on (table, bucket)); collision
  *    probability per bit is 1−θ/π, so per-table recall for angle θ is
  *    (1−θ/π)^m, overall 1−(1−(1−θ/π)^m)^L.
  *
  * Hyperplanes are deterministic (hash-seeded), so results are stable
  * across runs and cluster topologies.
  */
object SimilaritySearch {

  /** Deterministic pseudo-random hyperplane weight for (table, plane,
    * dim). The hash is pinned deliberately (deprecation suppressed):
    * hyperplanes are a persisted-model contract — changing the function
    * would silently re-bucket every stored signature.
    */
  @annotation.nowarn("cat=deprecation")
  private def planeWeight(t: Int, p: Int, d: Int): Double = {
    val h = scala.util.hashing.MurmurHash3.productHash((t, p, d))
    h.toDouble / Int.MaxValue // ~uniform in [-1, 1]
  }

  /** (table, bucket) keys for all L tables, as an array for explode.
    * `vecD` must be a materialized array<double> column reference.
    *
    * One native expression ([[graft.plans.SignBucketsExpr]]) carrying
    * the plane matrix as values — the previous per-(table, plane)
    * column formulation expanded tables·bits·dim literal nodes
    * (8 192 at the defaults) into the plan, paying analyzer/codegen
    * time proportional to the hyperplane count on every index call.
    * Planes, dot order, sign test and bit packing are unchanged, so
    * buckets are bit-identical (the persisted-model contract above).
    */
  def bucketKeys(vecD: Column, tables: Int, bits: Int, dim: Int): Column = {
    import org.apache.spark.sql.graft.bridge
    val planes: IndexedSeq[IndexedSeq[Double]] =
      for (t <- 0 until tables; p <- 0 until bits)
        yield (0 until dim).map(d => planeWeight(t, p, d)): IndexedSeq[Double]
    bridge.column(graft.plans.SignBucketsExpr(
      bridge.expression(vecD), planes, tables, bits))
  }

  /** (id, unit-normalized vector) projection: norms computed once per
    * row, so pairwise cosine degrades to a plain dot product (3× less
    * per-pair arithmetic than cosine()'s two norms + dot). Runs the
    * native fused [[graft.plans.NormalizeExpr]] — same index-order
    * double arithmetic as the HOF chain it replaced (oracle-identical),
    * one primitive loop inside whole-stage codegen.
    */
  private def normalized(df: DataFrame, id: String, out: String,
      idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as(id),
      VectorFunctions.normalize(col(vecCol)).as(out))

  /** Exact cosine top-k: each row of `queries` against all of `corpus`
    * (self-matches by id excluded). Output:
    * (query_id, cand_id, cos_sim, rank).
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = normalized(queries, "query_id", "qn", idCol, vecCol)
    val c = Partitioning.forCompute(
      normalized(corpus, "cand_id", "cn", idCol, vecCol))
    val scored = broadcast(q)
      .join(c, col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        round(VectorFunctions.dotDouble(col("qn"), col("cn")), 6).as("cos_sim"))
    rank(scored, k)
  }

  /** Hard-negative mining for contrastive training: per query, the
    * top-k candidates by cosine AMONG those strictly below the
    * near-duplicate ceiling — the closest non-duplicates are the
    * informative negatives (the standard retrieval-training recipe;
    * easy negatives teach nothing, near-dups are false negatives).
    * The ceiling compares against the 6-dp-rounded cosine, matching
    * the SQL oracle's arithmetic exactly (q91). This exact form
    * scores the full corpus (the gate/reference leg); at scale feed a
    * candidate pool from [[lshTopK]]/[[ivfTopK]] through the same
    * filter+rank instead.
    */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      maxCos: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = normalized(queries, "query_id", "qn", idCol, vecCol)
    val c = Partitioning.forCompute(
      normalized(corpus, "cand_id", "cn", idCol, vecCol))
    val scored = broadcast(q)
      .join(c, col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        round(VectorFunctions.dotDouble(col("qn"), col("cn")), 6).as("cos_sim"))
      .filter(col("cos_sim") < maxCos)
    rank(scored, k)
  }

  /** LSH-bucketed approximate top-k. Candidates from bucket collisions
    * across L tables, exact-cosine re-ranked. Queries whose buckets are
    * all empty return no rows (increase `tables`/decrease `bits` to
    * trade candidate volume for recall).
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      dim: Int,
      tables: Int = 16,
      bits: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    def index(df: DataFrame, id: String): DataFrame =
      Partitioning.forCompute(normalized(df, id, "vn", idCol, vecCol))
        .select(col(id), col("vn"),
          explode(bucketKeys(col("vn"), tables, bits, dim)).as("bk"))
        .select(col(id), col("vn"), col("bk.t").as("t"), col("bk.bkt").as("bkt"))
    val qi = index(queries, "query_id").withColumnRenamed("vn", "qn")
    val ci = index(corpus, "cand_id").withColumnRenamed("vn", "cn")
    val cands = qi.join(ci,
        Seq("t", "bkt")).where(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), col("qn"), col("cn"))
      .dropDuplicates("query_id", "cand_id")
    val scored = cands.select(col("query_id"), col("cand_id"),
      round(VectorFunctions.dotDouble(col("qn"), col("cn")), 6).as("cos_sim"))
    rank(scored, k)
  }

  /** Embedding-cosine near-duplicate pairs: all (a, b) with cosine ≥
    * threshold, a < b — EXACT via a block (triangle) self-join, the
    * 1-Bucket-Theta pattern: each vector hashes to one of `blocks`
    * blocks; block pair (i ≤ j) is covered exactly once by replicating
    * a block-g row to keys (g, j≥g) on the left and (i≤g, g) on the
    * right. The join is a plain shuffle equi-join on (i, j) — no
    * broadcast of the corpus, no BroadcastNestedLoopJoin — and each
    * task holds ~2·n/blocks rows, so per-task memory is bounded by the
    * block-size dial regardless of corpus size. O(n²) pair evaluation
    * is inherent to the exact answer; pick `blocks` ≈ n /
    * sqrt(pairs-per-task-budget) so tasks stay uniform.
    *
    * Why not LSH-blocked candidates + exact verify: sign-random-
    * projection recall at low cosine thresholds is pathological — at
    * τ = 0.4 (θ/π ≈ 0.37) reaching 99.9% per-pair recall needs ~40
    * tables of 4 bits, whose candidate volume (~2.5·n²) EXCEEDS brute
    * force. LSH blocking only wins at high thresholds (the [[lshTopK]]
    * / SimHash siblings cover that regime); the exact operator must
    * not gamble recall.
    */
  def cosineNearDuplicates(
      corpus: DataFrame,
      threshold: Double,
      blocks: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    graft.operators.BlockJoin.allPairs(
        Partitioning.forCompute(normalized(corpus, "id", "nv", idCol, vecCol)),
        "id", blocks)
      .select(
        least(col("id_a"), col("id_b")).as("vec_a"),
        greatest(col("id_a"), col("id_b")).as("vec_b"),
        round(VectorFunctions.dotDouble(col("nv_a"), col("nv_b")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)

  /** Incremental exact cosine near-dup: pairs at cosine ≥ threshold
    * where at least one side is from `newVecs` — batch×corpus via the
    * rectangular fragment-replicate block join plus batch×batch via the
    * triangle join; corpus×corpus pairs are never enumerated, so the
    * per-batch cost is |batch|·|corpus|/parallelism, not |corpus|².
    * The embedding sibling of [[MinHashDedup.incrementalNearDuplicates]].
    */
  def incrementalCosineNearDuplicates(
      newVecs: DataFrame,
      corpus: DataFrame,
      threshold: Double,
      blocks: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    incrementalCosineNearDuplicatesManaged(
      newVecs, corpus, threshold, blocks, idCol, vecCol)._1

  /** [[incrementalCosineNearDuplicates]] plus a release handle for the
    * internal batch cache — the lifetime contract mirrors
    * [[graft.ext.MinHashDedup.incrementalNearDuplicatesManaged]]:
    * per-batch looped callers (streaming ingest, round-based dedup)
    * must release after consuming or dead cached frames accumulate in
    * storage memory across batches.
    */
  def incrementalCosineNearDuplicatesManaged(
      newVecs: DataFrame,
      corpus: DataFrame,
      threshold: Double,
      blocks: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): (DataFrame, () => Unit) = {
    // cached: feeds the cross join AND the batch-internal triangle join
    val nn = normalized(newVecs, "id", "nv", idCol, vecCol).cache()
    val nc = Partitioning.forCompute(
      normalized(corpus, "id", "nv", idCol, vecCol))
    val cross = graft.operators.BlockJoin.crossPairs(nn, nc, "id", blocks)
    val (within, releaseWithin) =
      graft.operators.BlockJoin.allPairsManaged(nn, "id", blocks)
    val pairs = cross.unionByName(within)
      .select(
        least(col("id_a"), col("id_b")).as("vec_a"),
        greatest(col("id_a"), col("id_b")).as("vec_b"),
        round(VectorFunctions.dotDouble(col("nv_a"), col("nv_b")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
    (pairs, () => { releaseWithin(); nn.unpersist(); () })
  }

  /** IVF (inverted-file) approximate top-k — the other standard ANN
    * scale path: partition the corpus into cells around centroids
    * (mini k-means, deterministic hash-seeded init), search only the
    * `nProbe` cells nearest each query.
    *
    * All plan-level: centroids are a broadcast-size list (nCells ≪
    * corpus), assignment is a broadcast join + argmin, training runs
    * `iters` Lloyd rounds over the corpus (each one scan + tiny agg).
    * Recall/cost dial: nProbe/nCells ≈ fraction of corpus scanned.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      dim: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      iters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = Partitioning.forCompute(
        corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv")))
      .withColumn("vd", transform(col("cv"), _.cast("double")))
      .cache()

    // deterministic md5-seeded Lloyd cells ([[CentroidAssign.trainCells]])
    val centroids = CentroidAssign.trainCells(c, nCells, iters)

    val indexed = c.select(col("cand_id"), col("vd"),
      element_at(CentroidAssign.nearestCells(col("vd"), centroids, 1), 1)
        .getField("cell").as("cell"))
    val probed = queries
      .select(col(idCol).as("query_id"),
        transform(col(vecCol), _.cast("double")).as("qd"))
      .select(col("query_id"), col("qd"),
        explode(transform(
          CentroidAssign.nearestCells(col("qd"), centroids, nProbe),
          _.getField("cell"))).as("cell"))
    val probeJoin = CentroidAssign.probeJoin(probed, indexed,
      queries.queryExecution.optimizedPlan.stats.sizeInBytes * nProbe)
    val scored = probeJoin
      .where(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        round(VectorFunctions.dotDouble(col("qd"), col("vd")) /
          (sqrt(VectorFunctions.dotDouble(col("qd"), col("qd"))) *
           sqrt(VectorFunctions.dotDouble(col("vd"), col("vd")))), 6)
          .as("cos_sim"))
    rank(scored, k)
  }

  private def rank(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("cos_sim"), col("rank"))
  }
}
