package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ext.{MinHashDedup, Multimodal, NGramJaccard, SimHash, SimilaritySearch}
import graft.functions.{TextFunctions => T, VectorFunctions => V}

import graft.queries.QueryUtil.{Q, scratchDir, tokRe}

/** embedding similarity: brute/LSH/IVF ANN with recall referees,
  * PQ/IVFADC/SQ8 quantization, hard-negative mining, PCA whitening,
  * the hashed quality classifier.
  *
  * One tier of the [[ExtQueries]] registry (split per registry tier so
  * no single file carries the whole 200-query surface); entries and
  * oracle SQL are verbatim registry members composed back together in
  * [[ExtQueries]].
  */
object ExtAnnQueries {

  val queries: Map[String, Q] = Map(

    // ── brute-force cosine top-k: 10 query vectors × all candidates,
    // exact top-5 by cosine, via SimilaritySearch.bruteForceTopK (norms
    // computed once per row, codegen'd dot product — not per-pair HOF
    // cosine). The baseline for ANN; the scale paths are q27 (LSH) and
    // q35 (IVF).
    "q21_cosine_topk" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      SimilaritySearch.bruteForceTopK(
        emb, emb.filter(col("vec_id") < 10), k = 5)
    },

    // ── hard-negative mining (contrastive-training data prep): per
    // query the top-5 by cosine among candidates strictly below the
    // 0.8 near-dup ceiling — closest non-duplicates, the negatives a
    // retrieval trainer actually wants. Exact leg on the gate; the
    // scale path feeds lshTopK/ivfTopK candidates through the same
    // filter+rank.
    "q91_hard_negatives" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      SimilaritySearch.hardNegatives(
        emb, emb.filter(col("vec_id") < 10), k = 5, maxCos = 0.8)
    },

    // ── IVF+ADC composed index (FAISS IVFPQ architecture): coarse
    // cells restrict the scan to ~nProbe/nCells of the corpus, PQ
    // codes make each candidate cost m lookups — the full
    // billion-scale ANN stack. Invariant form (q27/q35/q95 family):
    // rows only if top-5 recall vs the exact leg drops under 0.25
    // (measured 0.48 at sf0.01 / 0.38 at sf0.1 with nProbe=6 at the
    // gate's iters=3 — unlike q95, three Lloyd rounds hold recall
    // here (0.38–0.48 vs 0.42–0.44 at five) at roughly half the
    // training cost, so the gate takes the cheaper knob).
    "q100_ann_ivfadc_recall_floor" -> { (s, dir) =>
      import graft.ext.ProductQuantization
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 10)
      val exact = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
        .select(col("query_id"), col("cand_id")).cache()
      val model = ProductQuantization.train(emb, dim = 64, iters = 3)
      val approx = ProductQuantization.ivfAdcTopK(emb, q, topK = 5, model)
        .select(col("query_id"), col("cand_id"))
      exact.join(approx, Seq("query_id", "cand_id"), "left_semi")
        .agg((count(lit(1)) / exact.count()).as("recall"))
        .filter(col("recall") < 0.25)
        .select(lit("ivfadc").as("method"), round(col("recall"), 6).as("recall"))
    },

    // ── fasttext-style quality classifier (Joulin et al. 2016 — the
    // CCNet/GPT-3-pipeline filter architecture): hashed mean-pooled
    // linear model, distributed full-batch logistic GD. The training
    // label is a relative-frequency rule (rel freq of 'data' ≥ 3%),
    // which mean-pooling puts INSIDE the hypothesis class — so the
    // held-out metric isolates trainer correctness, not label noise.
    // The gate metric is ranking AUC (rank-sum identity over the
    // house two-phase global row number), because ranking IS the
    // production filter contract (CCNet keeps top-X% by score);
    // 0.5-threshold accuracy would measure the optimizer's norm
    // asymptote instead. Invariant form (q35 family): rows only if
    // AUC on the doc_id≡4 (mod 5) held-out fold drops under 0.80
    // (chance 0.5; measured 0.94 at sf0.01, 0.97 at sf0.1).
    "q101_quality_classifier_floor" -> { (s, dir) =>
      import graft.ext.HashedClassifier
      val toks = split(lower(col("text")), "\\s+")
      val labeled = Tables.documents(s, dir).select(
        col("doc_id"), col("text"),
        (size(filter(toks, t => t === "data")) / size(toks) >= 0.03)
          .cast("double").as("y"))
      val train = labeled.filter(pmod(col("doc_id"), lit(5)) < 4)
      val heldOut = labeled.filter(pmod(col("doc_id"), lit(5)) === 4)
      val model = HashedClassifier.fit(train, "text", "y",
        dim = 1 << 15, iters = 15)
      val scored = HashedClassifier.predict(heldOut, "text", model)
      val auc = HashedClassifier.auc(scored, "y", "prob", Seq("doc_id"))
      s.range(1)
        .select(lit("fasttext_lr").as("method"),
          round(lit(auc), 6).as("auc"))
        .filter(lit(auc) < 0.80)
    },

    // ── classic residual IVFADC (Jégou et al. §IV — what FAISS'
    // IVFPQ actually stores): PQ trained on v − c_cell, query tables
    // shifted per probed cell WITH the ‖q−c_cell‖² base term (rank
    // comparability across cells — see scoreProbes). Same invariant
    // form as q100; floor 0.25 (measured 0.44 at sf0.01 / 0.40 at
    // sf0.1 with nProbe=6, pqIters=3 — 3 Lloyd rounds hold the same
    // recall as 5 here at ~60% of the gate's training cost).
    "q103_ann_residual_recall_floor" -> { (s, dir) =>
      import graft.ext.ProductQuantization
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 10)
      val exact = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
        .select(col("query_id"), col("cand_id")).cache()
      val approx = ProductQuantization.ivfAdcResidualTopK(emb, q, topK = 5,
          pqIters = 3)
        .select(col("query_id"), col("cand_id"))
      exact.join(approx, Seq("query_id", "cand_id"), "left_semi")
        .agg((count(lit(1)) / exact.count()).as("recall"))
        .filter(col("recall") < 0.25)
        .select(lit("ivfadc_residual").as("method"),
          round(col("recall"), 6).as("recall"))
    },

    // ── two-stage ANN: IVFADC candidates (q103's path and probe
    // budget exactly) → fetch original vectors for the top-50 → exact
    // cosine re-rank to top-5. The production "rescoring" tier: the
    // compressed scan decides WHO gets exact treatment, not the final
    // order. Invariant form; floor 0.60 vs q103's 0.25 (measured:
    // rerank 0.72 at sf0.01 / 0.76 at sf0.1 vs ADC-ranked 0.44 /
    // 0.40 — same nProbe=6; pqIters=2 holds the identical recall as
    // 3 at ~2/3 the gate's training cost, A/B'd across all three SFs).
    "q114_ann_rerank_recall_floor" -> { (s, dir) =>
      import graft.ext.ProductQuantization
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 10)
      val exact = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
        .select(col("query_id"), col("cand_id")).cache()
      val approx = ProductQuantization.ivfAdcRerankTopK(emb, q, topK = 5,
          rerankFactor = 10, pqIters = 2)
        .select(col("query_id"), col("cand_id"))
      exact.join(approx, Seq("query_id", "cand_id"), "left_semi")
        .agg((count(lit(1)) / exact.count()).as("recall"))
        .filter(col("recall") < 0.60)
        .select(lit("ivfadc_rerank").as("method"),
          round(col("recall"), 6).as("recall"))
    },

    // ── product-quantization ANN (Jégou et al. 2011; the 32×-
    // compressed scale path FAISS calls ADC): train per-subspace
    // codebooks, encode the corpus to m codes, search via per-query
    // distance tables — candidates never touch the original vectors.
    // Same invariant form as the IVF/LSH gates (q27/q35): the query
    // emits rows ONLY if ADC top-5 recall against the exact brute-
    // force leg drops under the floor, so the oracle is the empty set.
    // Measured recall at sf0.01 rides well above the 0.30 floor.
    "q95_ann_pq_recall_floor" -> { (s, dir) =>
      import graft.ext.ProductQuantization
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 10)
      val exact = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
        .select(col("query_id"), col("cand_id")).cache()
      val model = ProductQuantization.train(emb, dim = 64)
      val approx = ProductQuantization.adcTopK(
          ProductQuantization.encode(emb, model), q, topK = 5, model)
        .select(col("query_id"), col("cand_id"))
      exact.join(approx, Seq("query_id", "cand_id"), "left_semi")
        .agg((count(lit(1)) / exact.count()).as("recall"))
        .filter(col("recall") < 0.30)
        .select(lit("pq").as("method"), round(col("recall"), 6).as("recall"))
    },

    // ── embedding norms + per-label aggregate (Σ in index order, double).
    "q22_embedding_norms" -> { (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("label"), V.norm(col("embedding")).as("nrm"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          round(avg(col("nrm")), 6).as("avg_norm"))
    },

    // ── ANN LSH recall-floor invariant, driver-checked (was a rows-only
    // top-k dump): overall recall of lshTopK vs exact brute-force top-k
    // must clear a pinned floor. Measured 0.20-0.28 across sf0.001/0.01/
    // 0.1 (BASELINE.md, ANN recall margins; chance ≈ k/N ≈ 1-2%);
    // floor 0.10 = real margin while still 10× chance. Emits violation
    // rows — EMPTY expected, zero-row oracle. Complements q45 (approx
    // can't BEAT exact); this bounds the other side (approx can't
    // collapse).
    "q27_ann_lsh_recall_floor" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 10)
      // cached: feeds both the semi-join and the denominator count
      val exact = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
        .select(col("query_id"), col("cand_id")).cache()
      val approx = SimilaritySearch.lshTopK(emb, q, k = 5, dim = 64)
        .select(col("query_id"), col("cand_id"))
      exact.join(approx, Seq("query_id", "cand_id"), "left_semi")
        .agg((count(lit(1)) / exact.count()).as("recall"))
        .filter(col("recall") < 0.10)
        .select(lit("lsh").as("method"), round(col("recall"), 6).as("recall"))
    },

    // ── ANN IVF recall-floor invariant, driver-checked (was rows-only;
    // see q27 for the pattern). Measured 0.58 across SFs (BASELINE.md,
    // ANN recall margins) at nProbe/nCells = 1/4 of the corpus scanned;
    // floor 0.30 — EMPTY expected, zero-row oracle.
    "q35_ann_ivf_recall_floor" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 10)
      // cached: feeds both the semi-join and the denominator count
      val exact = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
        .select(col("query_id"), col("cand_id")).cache()
      val approx = SimilaritySearch.ivfTopK(emb, q, k = 5, dim = 64)
        .select(col("query_id"), col("cand_id"))
      exact.join(approx, Seq("query_id", "cand_id"), "left_semi")
        .agg((count(lit(1)) / exact.count()).as("recall"))
        .filter(col("recall") < 0.30)
        .select(lit("ivf").as("method"), round(col("recall"), 6).as("recall"))
    },

    // ── per-label embedding centroids via the typed Aggregator (partial
    // aggregation, O(dim) state/group) — exploded to scalars for the
    // oracle compare.
    "q33_centroids" -> { (s, dir) =>
      graft.ext.Centroids.perGroup(
          Tables.embeddings(s, dir), "label", "embedding", 64)
        .select(col("label"), posexplode(col("centroid")).as(Seq("dim", "v")))
        .select(col("label"), col("dim"), round(col("v"), 6).as("centroid_val"))
    },

    // ── ANN optimality invariant, driver-checked: an approximate top-k
    // result can never BEAT the exact top-k at the same rank (LSH/IVF
    // re-rank candidates by exact cosine, so any such row is a scoring
    // or ranking bug). Must be EMPTY.
    "q45_ann_upper_bound" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 10)
      val exact = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
        .select(col("query_id"), col("rank"), col("cos_sim").as("exact_cos"))
      val approx = SimilaritySearch.lshTopK(emb, q, k = 5, dim = 64)
        .withColumn("method", lit("lsh"))
        .unionByName(SimilaritySearch.ivfTopK(emb, q, k = 5, dim = 64)
          .withColumn("method", lit("ivf")))
      approx.join(exact, Seq("query_id", "rank"))
        .filter(col("cos_sim") > col("exact_cos") + lit(1e-9))
        .select(col("method"), col("query_id"), col("cand_id"), col("rank"))
    },

    // ── distributed PCA / whitening invariant, driver-checked
    // (zero-row oracle): one-pass decimal moment aggregate → driver
    // Jacobi (d×d, bounded) → scan-stage projection. The gate replays
    // the eigendecomposition's own laws end to end over the real
    // fixture: eigenvalues descending/non-negative with Σλ = trace,
    // components orthonormal, per-component projected variance equal
    // to λⱼ under ANY partitioning (decimal sums), whitened variance
    // exactly 1, and full-rank per-row reconstruction within 1e-6 —
    // the conditioning stage SemDeDup-style pipelines run before
    // semantic dedup or ANN indexing.
    "q124_pca_whitening_invariant" -> { (s, dir) =>
      graft.ext.Pca.violations(Tables.embeddings(s, dir))
    },

    // ── SQ8 scalar-quantization recall floor, driver-checked
    // (zero-row oracle, the q27/q35 harness): int8 asymmetric-distance
    // top-k vs exact cosine top-k. SQ8 reconstructs far tighter than
    // PQ's shared codebooks, so the floor is high: measured
    // 1.000/1.000/0.960 at sf0.001/0.01/0.1 (BASELINE.md, Round 8
    // session 2: closing protocol); floor 0.70 keeps a wide margin
    // while pinning that the memory tier cannot collapse. Violations
    // emit — EMPTY expected.
    "q146_ann_sq8_recall_floor" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 10)
      val exact = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
        .select(col("query_id"), col("cand_id")).cache()
      val (lo, hi) = graft.ext.ScalarQuantization.train(emb, "embedding")
      val approx = graft.ext.ScalarQuantization.sqTopK(emb, q, k = 5, lo, hi)
        .select(col("query_id"), col("cand_id"))
      exact.join(approx, Seq("query_id", "cand_id"), "left_semi")
        .agg((count(lit(1)) / exact.count()).as("recall"))
        .filter(col("recall") < 0.70)
        .select(lit("sq8").as("method"), round(col("recall"), 6).as("recall"))
    },

    // ── IVF × SQ8 composition recall floor (FAISS "IVF,SQ8"): Lloyd
    // cells restrict candidates, the int8 asymmetric scan runs only
    // inside the probed cells. Measured 0.580/0.580/0.560 across SFs
    // (BASELINE.md, ANN recall margins) vs plain IVF's 0.580 —
    // quantization costs ≤ 0.02 recall; the loss is all cell
    // restriction. Floor 0.30 = ~1.9× margin. Zero-row oracle.
    "q147_ann_ivf_sq8_recall_floor" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 10)
      val exact = SimilaritySearch.bruteForceTopK(emb, q, k = 5)
        .select(col("query_id"), col("cand_id")).cache()
      val (lo, hi) = graft.ext.ScalarQuantization.train(emb, "embedding")
      val approx = graft.ext.ScalarQuantization
        .ivfSqTopK(emb, q, k = 5, lo, hi)
        .select(col("query_id"), col("cand_id"))
      exact.join(approx, Seq("query_id", "cand_id"), "left_semi")
        .agg((count(lit(1)) / exact.count()).as("recall"))
        .filter(col("recall") < 0.30)
        .select(lit("ivf_sq8").as("method"),
          round(col("recall"), 6).as("recall"))
    },
  )

  private[queries] val oracleBase: Map[String, String] = Map(

    "q21_cosine_topk" ->
      """WITH flat AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |         CAST(unnest(embedding) AS DOUBLE) AS e
        |  FROM embeddings),
        |norms AS (
        |  SELECT vec_id, sqrt(SUM(e*e)) AS nrm FROM flat GROUP BY vec_id),
        |pairs AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id, SUM(a.e*b.e) AS dp
        |  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < 10 AND a.vec_id <> b.vec_id
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT query_id, cand_id,
        |    round(dp / (qn.nrm * cn.nrm), 6) AS cos_sim
        |  FROM pairs
        |  JOIN norms qn ON qn.vec_id = query_id
        |  JOIN norms cn ON cn.vec_id = cand_id)
        |SELECT query_id, cand_id, cos_sim,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rank
        |FROM scored
        |QUALIFY rank <= 5""".stripMargin,

    // invariant form (q35 family): empty unless the PQ recall floor is
    // violated
    "q95_ann_pq_recall_floor" ->
      """SELECT CAST(NULL AS VARCHAR) AS method, CAST(NULL AS DOUBLE) AS recall
        |WHERE 1 = 0""".stripMargin,

    "q100_ann_ivfadc_recall_floor" ->
      """SELECT CAST(NULL AS VARCHAR) AS method, CAST(NULL AS DOUBLE) AS recall
        |WHERE 1 = 0""".stripMargin,

    "q103_ann_residual_recall_floor" ->
      """SELECT CAST(NULL AS VARCHAR) AS method, CAST(NULL AS DOUBLE) AS recall
        |WHERE 1 = 0""".stripMargin,

    // invariant form: empty unless the re-ranked recall floor (0.60 —
    // 2.4× q103's ADC-ranked floor at the identical probe budget) fails
    "q114_ann_rerank_recall_floor" ->
      """SELECT CAST(NULL AS VARCHAR) AS method, CAST(NULL AS DOUBLE) AS recall
        |WHERE 1 = 0""".stripMargin,

    // invariant form (q35 family): empty unless the held-out AUC
    // floor is violated
    "q101_quality_classifier_floor" ->
      """SELECT CAST(NULL AS VARCHAR) AS method, CAST(NULL AS DOUBLE) AS auc
        |WHERE 1 = 0""".stripMargin,

    // q21's arithmetic with the near-dup ceiling applied before rank
    "q91_hard_negatives" ->
      """WITH flat AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |         CAST(unnest(embedding) AS DOUBLE) AS e
        |  FROM embeddings),
        |norms AS (
        |  SELECT vec_id, sqrt(SUM(e*e)) AS nrm FROM flat GROUP BY vec_id),
        |pairs AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id, SUM(a.e*b.e) AS dp
        |  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < 10 AND a.vec_id <> b.vec_id
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT query_id, cand_id,
        |    round(dp / (qn.nrm * cn.nrm), 6) AS cos_sim
        |  FROM pairs
        |  JOIN norms qn ON qn.vec_id = query_id
        |  JOIN norms cn ON cn.vec_id = cand_id)
        |SELECT query_id, cand_id, cos_sim,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rank
        |FROM scored
        |WHERE cos_sim < 0.8
        |QUALIFY rank <= 5""".stripMargin,

    "q22_embedding_norms" ->
      """WITH flat AS (
        |  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS e
        |  FROM embeddings),
        |norms AS (
        |  SELECT vec_id, any_value(label) AS label, sqrt(SUM(e*e)) AS nrm
        |  FROM flat GROUP BY vec_id)
        |SELECT label, COUNT(*) AS n_vecs, round(AVG(nrm), 6) AS avg_norm
        |FROM norms GROUP BY label""".stripMargin,

    "q27_ann_lsh_recall_floor" ->
      """SELECT CAST(NULL AS VARCHAR) AS method, CAST(NULL AS DOUBLE) AS recall
        |WHERE 1 = 0""".stripMargin,

    "q35_ann_ivf_recall_floor" ->
      """SELECT CAST(NULL AS VARCHAR) AS method, CAST(NULL AS DOUBLE) AS recall
        |WHERE 1 = 0""".stripMargin,

    "q45_ann_upper_bound" ->
      """SELECT CAST(NULL AS VARCHAR) AS method, CAST(NULL AS BIGINT) AS query_id,
        |  CAST(NULL AS BIGINT) AS cand_id, CAST(NULL AS INTEGER) AS rank
        |WHERE 1 = 0""".stripMargin,

    "q33_centroids" ->
      """WITH flat AS (
        |  SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
        |         CAST(unnest(embedding) AS DOUBLE) AS e
        |  FROM embeddings)
        |SELECT label, dim, round(AVG(e), 6) AS centroid_val
        |FROM flat GROUP BY 1, 2""".stripMargin,

    // invariant form: empty unless an eigendecomposition law
    // (ordering, orthonormality, variance=λ, whitening, trace
    // conservation, full-rank reconstruction) is violated
    "q124_pca_whitening_invariant" ->
      """SELECT CAST(NULL AS VARCHAR) AS kind, CAST(NULL AS VARCHAR) AS detail
        |WHERE 1 = 0""".stripMargin,

    "q146_ann_sq8_recall_floor" ->
      """SELECT CAST(NULL AS VARCHAR) AS method, CAST(NULL AS DOUBLE) AS recall
        |WHERE 1 = 0""".stripMargin,

    "q147_ann_ivf_sq8_recall_floor" ->
      """SELECT CAST(NULL AS VARCHAR) AS method, CAST(NULL AS DOUBLE) AS recall
        |WHERE 1 = 0""".stripMargin,
  )
}
