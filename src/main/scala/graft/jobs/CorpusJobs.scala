package graft.jobs

import org.apache.spark.sql.functions._

import graft.ext.{ConnectedComponents, Contamination, MinHashDedup, Sampling}
import graft.functions.{TextFunctions => T}
import graft.orchestration.TaskGraph.Task
import graft.sources.ParquetTable

/** The end-to-end training-corpus construction pipeline — the job a
  * user of this library actually runs over raw crawled documents:
  *
  *   raw → language/quality/token filters → exact dedup →
  *   transitive near-dup dedup → per-source token-budget mixture →
  *   train/val/test split
  *
  * Every stage is one of the engine's oracle-checked operators composed
  * under TaskGraph, each materializing its table so stages are
  * independently inspectable, resumable and idempotent (pure
  * re-derivations of their input tables; re-running a stage overwrites
  * with identical content — all randomness is hash-deterministic).
  *
  * Scale shape: filters are scan-stage predicates; exact dedup is one
  * hash-groupBy; near-dup is the LSH band join + CC closure; mixture is
  * a per-stratum windowed cumsum; split is a per-row hash. Nothing
  * driver-side, no collects beyond CC's scalar convergence probes.
  */
object CorpusJobs {

  /** @param docsPath   raw documents parquet (doc_id, text, source, …)
    * @param outRoot    directory for stage tables: cleaned/, deduped/,
    *                   training_set/
    * @param lang       keep documents whose predicted language matches
    * @param minQuality quality-score floor in [0,1]
    * @param minTokens  drop docs shorter than this many tokens
    * @param budgets    per-source token budgets for the mixture; sources
    *                   absent from the map are dropped
    * @param splits     (label, weight) split ranges, weights ≤ 1
    * @param classifierTrainPath labeled parquet (text, y ∈ {0,1}) — when
    *                   set, a fasttext-style model ([[graft.ext.HashedClassifier]])
    *                   trains on it and a "learned_filter" stage keeps
    *                   docs with P(good) ≥ `classifierKeepProb` between
    *                   the heuristic filter and dedup (the CCNet
    *                   ordering: cheap heuristics first, the learned
    *                   filter on the survivors)
    */
  def buildTrainingSet(
      docsPath: String,
      outRoot: String,
      lang: String = "en",
      minQuality: Double = 0.25,
      minTokens: Int = 10,
      nearDupThreshold: Double = 0.5,
      budgets: Map[String, Long],
      splits: Seq[(String, Double)] = Seq(
        ("train", 0.875), ("val", 0.0625), ("test", 0.0625)),
      salt: String = "corpus-v1",
      // keep the highest-quality member of each near-dup cluster
      // instead of the lowest id — the keep-the-best-copy rule
      qualityCanonical: Boolean = false,
      // benchmark-decontamination: drop corpus docs sharing winnowing
      // fingerprints with this eval-set parquet (doc_id, text)
      evalDocsPath: Option[String] = None,
      classifierTrainPath: Option[String] = None,
      classifierKeepProb: Double = 0.5): Seq[Task] = {
    val mixtureInput =
      if (evalDocsPath.isDefined) s"$outRoot/decontaminated"
      else s"$outRoot/deduped"
    val dedupInput =
      if (classifierTrainPath.isDefined) s"$outRoot/learned_filtered"
      else s"$outRoot/cleaned"
    Seq(

    Task("clean_filter", Nil, run = ctx => {
      val docs = ParquetTable.readDir(ctx.spark, docsPath)
      val cleaned = docs.filter(
        T.langId(col("text")) === lang &&
          T.qualityScore(col("text")) >= minQuality &&
          T.tokenCount(col("text")) >= minTokens)
      new ParquetTable(ctx.spark, s"$outRoot/cleaned").overwriteAtomic(cleaned)
    }),

    Task("dedup",
      Seq(if (classifierTrainPath.isDefined) "learned_filter"
        else "clean_filter"),
      run = ctx => {
      val cleaned = new ParquetTable(ctx.spark, dedupInput).read()
      // exact first (cheap hash-groupBy shrinks the near-dup input and
      // keeps LSH buckets free of megadup clusters), then transitive
      // near-dup closure so chains collapse to one canonical doc
      val exact = cleaned
        .withColumn("__fp", T.fingerprintMd5(col("text")))
        .withColumn("__keep",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("__fp")).orderBy(col("doc_id"))))
        .filter(col("__keep") === 1).drop("__fp", "__keep")
      val pairs = MinHashDedup.nearDuplicates(
        exact, "doc_id", "text", nearDupThreshold)
      val deduped =
        if (qualityCanonical)
          ConnectedComponents.keepBestByComponents(
            exact, "doc_id", T.qualityScore(col("text")), pairs)
        else ConnectedComponents.dropByComponents(exact, "doc_id", pairs)
      new ParquetTable(ctx.spark, s"$outRoot/deduped").overwriteAtomic(deduped)
    }),

    Task("mixture_and_split",
      Seq(if (evalDocsPath.isDefined) "decontaminate" else "dedup"),
      run = ctx => {
        val input = new ParquetTable(ctx.spark, mixtureInput).read()
        val mixed = Sampling.tokenBudgetMixture(input, "source", "doc_id",
          T.tokenCount(col("text")), budgets, salt = salt + "-mix")
        val split = Sampling.assignSplit(mixed, "doc_id", splits,
          salt = salt + "-split")
        new ParquetTable(ctx.spark, s"$outRoot/training_set")
          .overwriteAtomic(split)
      })
  ) ++ classifierTrainPath.map { trainPath =>
    // learned quality filter (the CCNet/GPT-3 stage): train on the
    // labeled frame, score the heuristic survivors, keep by
    // probability threshold. Scoring is a pure scan-stage projection;
    // training follows the sample-training contract (the labeled
    // frame IS the bounded sample).
    Task("learned_filter", Seq("clean_filter"), run = ctx => {
      import graft.ext.HashedClassifier
      val model = HashedClassifier.fit(
        ParquetTable.readDir(ctx.spark, trainPath), "text", "y")
      val cleaned = new ParquetTable(ctx.spark, s"$outRoot/cleaned").read()
      val kept = HashedClassifier.predict(cleaned, "text", model)
        .filter(col("prob") >= classifierKeepProb)
        .drop("prob", "pred")
      new ParquetTable(ctx.spark, s"$outRoot/learned_filtered")
        .overwriteAtomic(kept)
    })
  }.toSeq ++ evalDocsPath.map { evalPath =>
    // winnowing-fingerprint containment vs the (broadcast-size) eval
    // set — the q56-oracled operator, here as a pipeline stage
    Task("decontaminate", Seq("dedup"), run = ctx => {
      val deduped = new ParquetTable(ctx.spark, s"$outRoot/deduped").read()
      val evalDocs = ParquetTable.readDir(ctx.spark, evalPath)
        .select(col("doc_id"), col("text"))
      val (clean, release) = Contamination.decontaminateManaged(
        deduped, evalDocs, "doc_id", "text")
      try new ParquetTable(ctx.spark, mixtureInput).overwriteAtomic(clean)
      finally release()
    })
  }.toSeq
  }
}
