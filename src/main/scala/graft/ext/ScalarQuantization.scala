package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar (int8) quantization — the memory tier of ANN between raw
  * floats and product quantization: each dimension is affinely mapped
  * to a 0..255 code against its corpus (min, max), shrinking vectors
  * 4× (8× vs double) with far less reconstruction error than PQ's
  * shared codebooks, at the cost of a smaller compression factor. The
  * standard FAISS `SQ8` / vector-DB "scalar quantization" layer;
  * composes with the IVF family ([[SimilaritySearch]],
  * [[ProductQuantization]]) exactly like any other vector transform —
  * cell-restrict first, SQ-scan inside the cell.
  *
  * Ranking is asymmetric (ADC-style): the query stays full-precision,
  * corpus codes decode on the fly inside the distance fold — codes
  * never materialize back to float arrays. Vectors are unit-normalized
  * before encoding, so negative squared-L2 ranking is equivalent to
  * cosine ranking (‖q−x‖² = 2 − 2·cos on unit vectors) and recall is
  * measured against the exact cosine top-k.
  *
  * Model = per-dimension (min, max) of the NORMALIZED corpus: one
  * exact aggregate (no sampling contract needed — min/max decompose),
  * collected as `dim` rows and shipped as one typed literal, so
  * codegen stays shape-constant (the [[CentroidAssign]] rule).
  */
object ScalarQuantization {

  /** Per-dimension (min, max) over the unit-normalized vectors.
    * Bounded collect: exactly `dim` rows.
    */
  def train(vectors: DataFrame, vecCol: String): (Array[Double], Array[Double]) = {
    val n = graft.functions.VectorFunctions.normalize(col(vecCol))
    val byDim = vectors.select(posexplode(n).as(Seq("d", "x")))
      .groupBy(col("d")).agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    (byDim.map(_._2), byDim.map(_._3))
  }

  /** Scan-stage encode of the unit-normalized vector to int codes
    * 0..255: code_i = round(255·(x_i − lo_i)/(hi_i − lo_i)), clamped;
    * a degenerate dimension (hi = lo) codes 0.
    */
  def encodeCol(vec: Column, lo: Array[Double], hi: Array[Double]): Column = {
    val n = graft.functions.VectorFunctions.normalize(vec)
    val bounds = arrays_zip(n.as("x"),
      typedLit(lo.toIndexedSeq).as("lo"), typedLit(hi.toIndexedSeq).as("hi"))
    transform(bounds, s => {
      val x = s.getField("x"); val l = s.getField("lo"); val h = s.getField("hi")
      when(h > l,
        greatest(lit(0), least(lit(255),
          round((x - l) / (h - l) * 255).cast("int"))))
        .otherwise(lit(0))
    })
  }

  /** Asymmetric negative squared-L2 of a full-precision unit query
    * against a code array: codes decode inside the fold, no float
    * array materializes.
    */
  private def negSqDist(codes: Column, qvec: Column,
      lo: Array[Double], hi: Array[Double]): Column = {
    val z = arrays_zip(codes.as("c"), qvec.as("q"),
      typedLit(lo.toIndexedSeq).as("lo"), typedLit(hi.toIndexedSeq).as("hi"))
    aggregate(z, lit(0.0), (acc, s) => {
      val dec = s.getField("lo") + s.getField("c").cast("double") *
        (s.getField("hi") - s.getField("lo")) / 255.0
      acc - (s.getField("q") - dec) * (s.getField("q") - dec)
    })
  }

  /** Top-k per query by SQ8 asymmetric distance: encode the corpus
    * once (scan stage), score every (query, code) pair, window top-k.
    * The brute pair scan is the BASELINE tier — at scale, restrict to
    * IVF cells first and SQ-scan inside (same composition as ADC).
    */
  /** IVF × SQ8 — the scale path: Lloyd cells restrict candidates
    * ([[CentroidAssign.trainCells]], same deterministic recipe as
    * [[SimilaritySearch.ivfTopK]]), then the asymmetric int8 scan runs
    * ONLY inside the probed cells. Probe side broadcasts below the
    * session threshold, shuffles on the cell key past it
    * ([[CentroidAssign.probeJoin]]). This is FAISS's `IVF,SQ8` index as
    * two equi-joined DataFrame stages; memory per candidate is dim
    * bytes, work per query is nProbe cells.
    */
  def ivfSqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      lo: Array[Double], hi: Array[Double], nCells: Int = 16,
      nProbe: Int = 4, iters: Int = 2): DataFrame = {
    val c = graft.core.Partitioning.forCompute(
        corpus.select(col("vec_id").as("cand_id"), col("embedding").as("cv")))
      .withColumn("vd", transform(col("cv"), _.cast("double")))
      .cache()
    val centroids = CentroidAssign.trainCells(c, nCells, iters)
    val indexed = c.select(col("cand_id"),
      encodeCol(col("cv"), lo, hi).as("codes"),
      element_at(CentroidAssign.nearestCells(col("vd"), centroids, 1), 1)
        .getField("cell").as("cell"))
    val probed = queries.select(col("vec_id").as("query_id"),
        transform(col("embedding"), _.cast("double")).as("qd"),
        graft.functions.VectorFunctions.normalize(col("embedding")).as("qvec"))
      .select(col("query_id"), col("qvec"),
        explode(transform(
          CentroidAssign.nearestCells(col("qd"), centroids, nProbe),
          _.getField("cell"))).as("cell"))
    val joined = CentroidAssign.probeJoin(probed, indexed,
      queries.queryExecution.optimizedPlan.stats.sizeInBytes * nProbe)
    val scored = joined
      .where(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        negSqDist(col("codes"), col("qvec"), lo, hi).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("rank"))
  }

  def sqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      lo: Array[Double], hi: Array[Double]): DataFrame = {
    val codes = corpus.select(col("vec_id").as("cand_id"),
      encodeCol(col("embedding"), lo, hi).as("codes"))
    val qs = queries.select(col("vec_id").as("query_id"),
      graft.functions.VectorFunctions.normalize(col("embedding")).as("qvec"))
    val scored = qs.join(codes, col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        negSqDist(col("codes"), col("qvec"), lo, hi).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("rank"))
  }
}
