package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Partitioning
import graft.functions.VectorFunctions

/** Product quantization for embedding columns — Jégou, Douze &
  * Schmid, "Product Quantization for Nearest Neighbor Search" (TPAMI
  * 2011), the standard compression path for billion-vector ANN (FAISS'
  * PQ/IVFADC family): the `dim`-dimensional space splits into `m`
  * subspaces of `dim/m` dims; each subspace gets its own k-means
  * codebook of `k` centroids; a vector encodes as `m` small codes
  * (m·log₂k bits — 64-dim float32 (256 B) → 12 B at the defaults
  * m=16, k=64, a ~21× storage cut, which is what makes a 100 TB
  * embedding corpus scannable at all; the defaults are sized for the
  * UNSTRUCTURED test embeddings, PQ's worst case — clustered real
  * corpora quantize far better at the same bit budget). Search runs
  * Asymmetric Distance Computation
  * (ADC): per query ONE m·k lookup table of exact
  * query-to-centroid distances, then each candidate costs m table
  * lookups instead of `dim` multiplies.
  *
  * Scale shape: the codebook is m·k·(dim/m) doubles — driver/broadcast
  * scale by construction, shipped into codegen as ONE typed literal
  * per kernel (the [[CentroidAssign]] value-literal rule: per-model
  * values must not become generated-source constants or every model
  * retrain recompiles the stage). Training is `iters` Lloyd rounds,
  * each one corpus scan + one (m·k·subDim)-row aggregate — all
  * subspaces in a single pass, not m passes. Encoding and the ADC
  * scan are scan-stage projections; the per-query top-k is a
  * partitioned window. Vectors are unit-normalized first, so L2 ADC
  * ranking coincides with cosine ranking (‖a−b‖² = 2−2cos on unit
  * vectors) and results are comparable with [[SimilaritySearch]]'s
  * exact leg (the q95 recall gate).
  */
object ProductQuantization {

  /** Trained codebooks: `centroids(j)(c)` is the subspace-`j` centroid
    * for code `c`, length dim/m.
    */
  case class PqModel(dim: Int, m: Int, k: Int,
      centroids: Array[Array[Array[Double]]]) {
    def subDim: Int = dim / m
  }

  private[ext] def unit(df: DataFrame, id: String, idCol: String,
      vecCol: String): DataFrame =
    df.select(col(idCol).as(id),
      VectorFunctions.normalize(col(vecCol)).as("vd"))

  /** Per-subspace code assignment for a unit vector column: argmin
    * centroid per subspace via the shared value-literal argmin kernel,
    * packed as array<int> of length m.
    */
  private[ext] def codesFor(vd: Column, model: PqModel): Column =
    array((0 until model.m).map { j =>
      val cents = model.centroids(j).zipWithIndex
        .map { case (v, c) => (c, v.toSeq) }
      element_at(
        CentroidAssign.nearestCells(
          slice(vd, lit(j * model.subDim + 1), lit(model.subDim)),
          cents, 1),
        1).getField("cell")
    }: _*)

  /** Train `m` per-subspace codebooks with `iters` Lloyd rounds.
    * Deterministic init (hash-scattered corpus vectors, the
    * [[SimilaritySearch.ivfTopK]] convention), empty cells keep their
    * previous centroid. One scan + one bounded aggregate per round,
    * covering all subspaces at once; the unit-vector projection is
    * cached (MEMORY_AND_DISK) across rounds and released on return.
    * At true corpus scale codebooks are trained on a SAMPLE (m·k
    * centroids saturate long before the full corpus informs them) —
    * pass `corpus.filter(xxhash64-fraction)` / a [[Sampling]] draw as
    * `corpus`; the gates train on the full small-SF frames so the
    * oracle has no sampling seam.
    */
  def train(corpus: DataFrame, dim: Int, m: Int = 16, k: Int = 64,
      iters: Int = 5, idCol: String = "vec_id",
      vecCol: String = "embedding"): PqModel = {
    val c = Partitioning.forCompute(unit(corpus, "id", idCol, vecCol)).cache()
    try trainOnFrame(c, dim, m, k, iters)
    finally { c.unpersist(); () }
  }

  /** The Lloyd loop over a CACHED `(id, vd)` frame — shared by raw
    * [[train]] and the residual path of [[ivfAdcResidualTopK]] (where
    * `vd` holds v − c_cell, NOT a unit vector — the loop makes no
    * normalization assumption).
    */
  private[ext] def trainOnFrame(c: DataFrame, dim: Int, m: Int, k: Int,
      iters: Int): PqModel = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val seed = c.orderBy(md5(col("id").cast("string"))).limit(k)
      .collect().map(_.getSeq[Double](1))
    var model = PqModel(dim, m, k,
      Array.tabulate(m, k)((j, cc) =>
        seed(cc % seed.length).slice(j * subDim, (j + 1) * subDim).toArray))
    // per-round means as ONE mapper-only dense aggregate (the
    // CentroidAssign.cellMeans recipe, keyed by (subspace, code)): each
    // partition folds its rows into m·k (subDim-sum, count) slots,
    // partials merge driver-side — replacing the double-posexplode →
    // groupBy(j, code, d) shuffle that materialized dim× the row count
    // per round (guide §2.3). Mean values identical up to double-
    // summation order (consumers gate on recall/MSE, not codebook
    // bytes); empty cells keep their previous centroid, as before.
    val spark0 = c.sparkSession
    import spark0.implicits._
    for (_ <- 1 to iters) {
      val partials = c
        .select(codesFor(col("vd"), model).as("codes"), col("vd"))
        .as[(Array[Int], Array[Double])]
        .mapPartitions { it =>
          val sums = Array.ofDim[Double](m * k, subDim)
          val cnts = new Array[Long](m * k)
          it.foreach { case (codes, vd) =>
            if (codes != null && vd != null) {
              var j = 0
              while (j < m && j < codes.length) {
                val slot = j * k + codes(j)
                val s = sums(slot)
                var d = 0
                val base = j * subDim
                while (d < subDim && base + d < vd.length) {
                  s(d) += vd(base + d); d += 1
                }
                cnts(slot) += 1
                j += 1
              }
            }
          }
          Iterator.single((sums, cnts))
        }.collect()
      val sums = Array.ofDim[Double](m * k, subDim)
      val cnts = new Array[Long](m * k)
      partials.foreach { case (ps, pc) =>
        var s = 0
        while (s < m * k) {
          var d = 0
          while (d < subDim) { sums(s)(d) += ps(s)(d); d += 1 }
          cnts(s) += pc(s)
          s += 1
        }
      }
      val next = model.centroids.map(_.map(_.clone()))
      var s = 0
      while (s < m * k) {
        if (cnts(s) > 0) {
          val (j, code) = (s / k, s % k)
          var d = 0
          while (d < subDim) {
            next(j)(code)(d) = sums(s)(d) / cnts(s); d += 1
          }
        }
        s += 1
      }
      model = PqModel(dim, m, k, next)
    }
    model
  }

  /** Encode the corpus: (cand_id, codes array<int> of length m). At
    * 100 TB this IS the stored index — ~21× smaller than the vectors
    * at the defaults.
    */
  def encode(corpus: DataFrame, model: PqModel,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    Partitioning.forCompute(unit(corpus, "cand_id", idCol, vecCol))
      .select(col("cand_id"), codesFor(col("vd"), model).as("codes"))

  /** ADC lookup table for a unit query vector: entry j·k+c holds the
    * rank-equivalent distance ‖c‖² − 2·q_j·c (the per-query ‖q_j‖²
    * terms are candidate-independent, the [[CentroidAssign]] argmin
    * identity). One typed literal carries (subspace, ‖c‖², centroid).
    */
  private[ext] def distTable(qd: Column, model: PqModel): Column = {
    val packed: Seq[(Int, Double, Seq[Double])] =
      for (j <- 0 until model.m; cc <- 0 until model.k) yield {
        val v = model.centroids(j)(cc)
        (j, v.map(x => x * x).sum, v.toSeq)
      }
    transform(typedLit(packed), e =>
      e.getField("_2") - lit(2.0) * VectorFunctions.dotDouble(
        slice(qd, e.getField("_1") * model.subDim + 1, lit(model.subDim)),
        e.getField("_3")))
  }

  /** Coarse full-vector k-means over a CACHED `(cand_id, vd)` frame —
    * the IVF cell stage shared by [[ivfAdcTopK]] and
    * [[ivfAdcResidualTopK]]. Deterministic md5-ordered seeding; cell
    * ids are 0..nCells−1 throughout (the residual path indexes a
    * value literal by them). Not [[CentroidAssign.trainCells]],
    * whose rule differs: an empty cell keeps its previous centroid
    * here, while `trainCells` drops it (its set becomes the non-empty
    * cells' means), so the two can train different cells.
    */
  private[ext] def trainCoarse(c: DataFrame, nCells: Int,
      iters: Int): Array[(Int, Seq[Double])] = {
    var coarse: Array[(Int, Seq[Double])] = c
      .orderBy(md5(col("cand_id").cast("string"))).limit(nCells)
      .collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](1)) }
    for (_ <- 1 to iters) {
      // one mapper-only dense aggregate per round (cellMeans) — see
      // trainOnFrame's loop note; empty cells keep their previous value
      val assigned = c.select(
        element_at(CentroidAssign.nearestCells(col("vd"), coarse, 1), 1)
          .getField("cell").as("cell"),
        col("vd"))
      val next = coarse.map { case (i, v) => i -> v.toArray }.toMap
      CentroidAssign.cellMeans(assigned).foreach { case (cell, mv) =>
        val t = next(cell)
        var d = 0
        val n = math.min(mv.length, t.length)
        while (d < n) { t(d) = mv(d); d += 1 }
      }
      coarse = coarse.map { case (i, _) => (i, next(i).toSeq) }
    }
    coarse
  }

  /** v − coarse[cell] as a column — the residual the classic IVFADC
    * quantizes. The coarse table rides as ONE typed-literal value
    * indexed by the cell column ([[CentroidAssign]] rule).
    */
  private[ext] def residualOf(vd: Column, cell: Column,
      coarse: Array[(Int, Seq[Double])]): Column = {
    val byId: Seq[Seq[Double]] = coarse.sortBy(_._1).map(_._2).toIndexedSeq
    zip_with(vd, element_at(typedLit(byId), cell + 1), (a, b) => a - b)
  }

  /** IVF + ADC — the composed billion-scale index (FAISS "IVFPQ"
    * without residual refinement, documented below): a coarse
    * full-vector k-means partitions the corpus into `nCells` inverted
    * lists; search probes the `nProbe` cells nearest the query and
    * ADC-ranks ONLY their members, so the scan fraction is
    * ~nProbe/nCells of [[adcTopK]]'s full pass on top of the same
    * 12-byte codes. Probing ALL cells recovers [[adcTopK]] exactly
    * (spec-pinned equivalence — the cell stage is a pure candidate
    * restriction). Classic IVFADC additionally re-trains PQ on the
    * residuals v − c_cell for finer quantization; that refinement
    * slots in at the `codesFor` call without changing any plan shape.
    *
    * Plan: coarse training = `coarseIters` scans with the
    * [[CentroidAssign]] value-literal argmin; the index pass emits
    * (cand_id, cell, codes) in one projection; probes broadcast while
    * queries×nProbe is broadcast-small with the same stats-estimate
    * fallback to a shuffle join as [[SimilaritySearch.ivfTopK]].
    */
  def ivfAdcTopK(corpus: DataFrame, queries: DataFrame, topK: Int,
      model: PqModel, nCells: Int = 16, nProbe: Int = 6,
      coarseIters: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = Partitioning.forCompute(unit(corpus, "cand_id", idCol, vecCol))
      .cache()
    try {
      val coarse = trainCoarse(c, nCells, coarseIters)
      val indexed = c.select(col("cand_id"),
        element_at(CentroidAssign.nearestCells(col("vd"), coarse, 1), 1)
          .getField("cell").as("cell"),
        codesFor(col("vd"), model).as("codes"))
      val probed = unit(queries, "query_id", idCol, vecCol)
        .select(col("query_id"), distTable(col("vd"), model).as("tbl"),
          lit(0.0).as("base"),
          explode(transform(
            CentroidAssign.nearestCells(col("vd"), coarse, nProbe),
            _.getField("cell"))).as("cell"))
      scoreProbes(probed, indexed, queries, nProbe, topK, model)
    } finally { c.unpersist(); () }
  }

  /** Shared IVF scoring tail: cell equi-join (probe side broadcast
    * under the stats-estimate guard, shuffle otherwise), the m-lookup
    * ADC sum plus the probe row's `base` term, per-query top-k
    * window. Each candidate lives in exactly ONE cell, so a
    * (query, cand) pair joins at most once — no dedup stage needed,
    * raw or residual.
    *
    * `probed` must carry a `base` column: [[distTable]] drops the
    * ‖q_j‖² terms as rank-constant, which holds per QUERY (raw path,
    * base = 0) but NOT per cell — the residual path's dropped
    * constant is ‖q − c_cell‖², different in every probed cell, so
    * cross-cell candidate comparison is skewed unless it is added
    * back (measured on the residual path: recall 0.38 → 0.46 at
    * sf0.01 and 0.34 → 0.38 at sf0.1 from this term alone).
    */
  private def scoreProbes(probed: DataFrame, indexed: DataFrame,
      queries: DataFrame, nProbe: Int, topK: Int,
      model: PqModel): DataFrame = {
    // each probed row carries the m·k ADC table (doubles) + base/ids —
    // dominant payload the raw `queries` stats cannot see (the frame
    // only holds the dim-double embedding), so estimate rows from the
    // query stats and charge the table bytes per probe row explicitly;
    // without this term the residual path (tables ≈ m·k·8 B ≈ 8 KB/row)
    // could be force-broadcast far above the threshold at scale
    val qStats = queries.queryExecution.optimizedPlan.stats
    val rowEst = qStats.rowCount.getOrElse(
      (qStats.sizeInBytes / BigInt(model.dim.toLong * 8L).max(1)).max(1))
    val tableBytesPerRow = BigInt(model.m.toLong * model.k * 8L + 96L)
    val probeJoin = CentroidAssign.probeJoin(probed, indexed,
      qStats.sizeInBytes * nProbe + rowEst * nProbe * tableBytesPerRow)
    val scored = probeJoin
      .where(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        (col("base") + aggregate(sequence(lit(0), lit(model.m - 1)), lit(0.0),
          (acc, j) => acc + element_at(col("tbl"),
            j * model.k + element_at(col("codes"), j + 1) + 1)))
          .as("adc_dist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("cand_id"),
        round(col("adc_dist"), 6).as("adc_dist"), col("rank"))
  }

  /** Classic residual IVFADC (Jégou et al. §IV — what FAISS' IVFPQ
    * actually stores): PQ quantizes the RESIDUAL v − c_cell instead of
    * v, so the codebook spends its k^m cells on the within-cell
    * remainder (norm ≪ ‖v‖) rather than re-describing the coarse
    * structure — finer quantization at the identical 12-byte code
    * budget (spec-pinned: residual reconstruction MSE ≤ raw-PQ MSE,
    * same m/k/iters). The query side shifts per probed cell —
    * distTable(q − c_cell) — so tables are per-(query, cell): nProbe
    * small literals' worth of arithmetic per query row, still
    * broadcast-sized. Plan shape is [[ivfAdcTopK]]'s exactly: coarse
    * assignment and residual are scan-stage projections over the
    * coarse value literal, one cell equi-join, one per-query window.
    *
    * Trains its own PQ model (on residuals — a raw-vector model would
    * be the wrong codebook by construction) plus the coarse cells;
    * `trainFraction` < 1 draws a deterministic md5 training sample
    * while indexing/searching every row — the corpus-scale contract.
    * Caveat from measurement: on UNSTRUCTURED embeddings (PQ's worst
    * case, no cluster structure for a sample to find) a 25% draw cost
    * the gates 0.46→0.34 recall at sf0.01, so the small-SF gates
    * train on the full frame; real clustered corpora are where the
    * sample contract earns its keep.
    */
  def ivfAdcResidualTopK(corpus: DataFrame, queries: DataFrame,
      topK: Int, nCells: Int = 16, nProbe: Int = 6,
      coarseIters: Int = 2, m: Int = 16, k: Int = 64, pqIters: Int = 5,
      trainFraction: Double = 1.0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = Partitioning.forCompute(unit(corpus, "cand_id", idCol, vecCol))
      .cache()
    try {
      // the sample-training contract made explicit: codebooks train on
      // a deterministic md5 draw of the corpus (m·k centroids saturate
      // long before the full corpus informs them); assignment,
      // encoding, and search always cover EVERY row
      val trainFrame =
        if (trainFraction >= 1.0) c
        else c.filter(Sampling.hashUniform(col("cand_id"), "pqtrain")
          < trainFraction)
      val coarse = trainCoarse(trainFrame, nCells, coarseIters)
      val dim = coarse(0)._2.length
      val assigned = c.select(col("cand_id"),
        element_at(CentroidAssign.nearestCells(col("vd"), coarse, 1), 1)
          .getField("cell").as("cell"),
        col("vd"))
      val resid = assigned
        .filter(if (trainFraction >= 1.0) lit(true)
          else Sampling.hashUniform(col("cand_id"), "pqtrain") < trainFraction)
        .select(col("cand_id").as("id"),
          residualOf(col("vd"), col("cell"), coarse).as("vd")).cache()
      val pq =
        try trainOnFrame(resid, dim, m, k, pqIters)
        finally { resid.unpersist(); () }
      val indexed = assigned.select(col("cand_id"), col("cell"),
        codesFor(residualOf(col("vd"), col("cell"), coarse), pq).as("codes"))
      val probed = unit(queries, "query_id", idCol, vecCol)
        .select(col("query_id"), col("vd"),
          explode(transform(
            CentroidAssign.nearestCells(col("vd"), coarse, nProbe),
            _.getField("cell"))).as("cell"))
        .select(col("query_id"), col("cell"),
          distTable(residualOf(col("vd"), col("cell"), coarse), pq).as("tbl"),
          aggregate(residualOf(col("vd"), col("cell"), coarse),
            lit(0.0), (acc, x) => acc + x * x).as("base"))
      scoreProbes(probed, indexed, queries, nProbe, topK, pq)
    } finally { c.unpersist(); () }
  }

  /** Two-stage retrieval — IVFADC candidates, EXACT re-rank: stage 1
    * runs [[ivfAdcResidualTopK]] for `topK · rerankFactor` candidates
    * (compressed-domain scan, never touching raw vectors); stage 2
    * fetches ONLY those candidates' original vectors by an equi-join on
    * the id and re-ranks them by exact cosine. This is the standard
    * production ANN shape (FAISS' `IndexRefine` / every vector-DB
    * "rescoring" tier): ADC quantization error decides which ~R·|Q|
    * rows get exact treatment, not the final order — so recall at equal
    * probe budget jumps (measured at sf0.01, nProbe=6, pqIters=3:
    * 0.44 ADC-ranked → see q114's recorded margin re-ranked) while the
    * exact arithmetic touches R/|corpus| of the data.
    *
    * Scale shape: stage 1 is [[ivfAdcResidualTopK]]'s plan unchanged;
    * stage 2's fetch is a plain equi-join of a |Q|·R-row frame against
    * the corpus (broadcast when small — the common case; shuffle
    * equi-join otherwise, never a cross product) and one per-query
    * top-k window. Output matches [[SimilaritySearch.bruteForceTopK]]'s
    * schema/rounding, so the exact leg and this one are directly
    * comparable.
    */
  def ivfAdcRerankTopK(corpus: DataFrame, queries: DataFrame,
      topK: Int, rerankFactor: Int = 10, nCells: Int = 16, nProbe: Int = 6,
      coarseIters: Int = 2, m: Int = 16, k: Int = 64, pqIters: Int = 5,
      trainFraction: Double = 1.0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(rerankFactor >= 1, "rerankFactor must be ≥ 1")
    val cands = ivfAdcResidualTopK(corpus, queries, topK * rerankFactor,
        nCells, nProbe, coarseIters, m, k, pqIters, trainFraction,
        idCol, vecCol)
      .select(col("query_id"), col("cand_id"))
    val cn = Partitioning.forCompute(unit(corpus, "cand_id", idCol, vecCol))
      .withColumnRenamed("vd", "cn")
    val qn = unit(queries, "query_id", idCol, vecCol)
      .withColumnRenamed("vd", "qn")
    // candidate frame is |Q|·R rows of two longs — broadcast side of
    // both fetch joins; the corpus is only ever scanned, never shuffled
    val scored = broadcast(cands)
      .join(cn, Seq("cand_id"))
      .join(broadcast(qn), Seq("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(VectorFunctions.dotDouble(col("qn"), col("cn")), 6)
          .as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("cand_id"), col("cos_sim"), col("rank"))
  }

  /** Reconstruct vectors from PQ codes (the codebook as one
    * typed-literal value) — the measurement column behind the
    * residual-beats-raw MSE invariant.
    */
  def decode(codes: Column, model: PqModel): Column = {
    val cb: Seq[Seq[Seq[Double]]] = model.centroids
      .map(_.map(_.toIndexedSeq: Seq[Double]).toIndexedSeq: Seq[Seq[Double]])
      .toIndexedSeq
    flatten(transform(sequence(lit(0), lit(model.m - 1)),
      j => element_at(element_at(typedLit(cb), j + 1),
        element_at(codes, j + 1) + 1)))
  }

  /** Approximate top-k by ADC distance over PQ codes: per query the
    * m·k table (exact arithmetic, broadcast with the query row), per
    * candidate m array lookups, per-query top-k window (ascending
    * distance, candidate id tiebreak). The candidate pass never
    * touches the original vectors — that is the point.
    */
  def adcTopK(encoded: DataFrame, queries: DataFrame, topK: Int,
      model: PqModel, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = unit(queries, "query_id", idCol, vecCol)
      .select(col("query_id"), distTable(col("vd"), model).as("tbl"))
    val scored = broadcast(q)
      .join(encoded, col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        aggregate(sequence(lit(0), lit(model.m - 1)), lit(0.0),
          (acc, j) => acc + element_at(col("tbl"),
            j * model.k + element_at(col("codes"), j + 1) + 1))
          .as("adc_dist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("cand_id"),
        round(col("adc_dist"), 6).as("adc_dist"), col("rank"))
  }
}
