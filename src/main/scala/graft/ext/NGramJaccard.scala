package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Partitioning

/** Exact n-gram Jaccard all-pairs similarity with prefix filtering
  * (Bayardo et al.'s AllPairs / PPJoin family).
  *
  * A naive shingle-inverted-index self-join costs Σ_s df(s)² rows —
  * quadratic in document frequency, catastrophic on dense vocabularies.
  * Prefix filtering keeps the join EXACT while only indexing each
  * document's `|d| - ⌈t·|d|⌉ + 1` globally-rarest shingles: under a
  * global (df, shingle) total order, any pair with Jaccard ≥ t must
  * share at least one element of both prefixes (if all common shingles
  * sat outside x's prefix, the suffix would hold < ⌈t·|x|⌉ of them —
  * contradiction with the overlap bound o ≥ ⌈t·|x|⌉ implied by J ≥ t).
  * Candidates from the prefix join are then verified against the full
  * shingle sets, so the output is exactly the naive join's.
  *
  * Measured on the fixture corpus (30-word vocabulary, the worst case
  * for inverted-index joins) this cuts the join volume ~100×.
  *
  * Scale notes: the df computation and prefix join shuffle on the
  * shingle; verification shuffles on doc id. The `maxDf` knob
  * additionally drops ultra-common shingles *from the similarity
  * definition itself* (changes semantics — a corpus-stopword filter,
  * standard in web dedup; 0 keeps exact semantics).
  */
object NGramJaccard {

  /** All pairs with exact Jaccard ≥ threshold over word n-gram shingles.
    * Output: (doc_a, doc_b, jaccard), doc_a < doc_b.
    */
  def allPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxDf: Long = 0L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0,1]")
    // Everything downstream runs in the hashed-shingle domain
    // (xxhash64 longs, not strings): the prefix theorem only needs SOME
    // global total order — (df, hash) qualifies — set sizes are
    // collision-free in practice (P ≈ |sh|²·2⁻⁶⁴), and long keys make
    // the joins, the group-bys and the verification-array shuffle
    // several times cheaper than strings.
    // cached: the frame feeds both the inverted index and verification.
    val sh0 = Shingling.shingleFrame(docs, idCol, textCol, n)
      .select(col("id"), transform(col("sh"), s => xxhash64(s)).as("sh"))
      .cache()
    // set size rides WITH each exploded token: with no maxDf filter the
    // per-doc token count is exactly size(sh), so the former
    // `tok.groupBy(id).count()` + re-join (one aggregation shuffle +
    // one join per call — guide §2.4, a removable exchange) collapses
    // into a free scan-stage column; the maxDf path still needs the
    // post-filter census
    val tok0 = sh0.select(col("id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("s"))
    val tok =
      if (maxDf > 0) {
        val hot = tok0.groupBy(col("s")).agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf).select(col("s"))
        val filtered = tok0.join(broadcast(hot), Seq("s"), "left_anti")
        val sizes = filtered.groupBy(col("id")).agg(count(lit(1)).as("fsz"))
        filtered.join(sizes, "id")
          .select(col("id"), col("fsz").as("sz"), col("s"))
      } else tok0

    // global document frequency per shingle → rarest-first total order
    val dfs = tok.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val ranked = tok.join(dfs, "s")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("s"))))
    val prefix = ranked
      .filter(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("id"), col("s"), col("rn"), col("sz"))

    // PPJoin positional filter: a shared prefix token at positions
    // (rnA, rnB) bounds the possible overlap by
    // min(szA-rnA, szB-rnB) + 1; pairs whose bound cannot reach the
    // Jaccard-implied minimum overlap α = ⌈t/(1+t)·(szA+szB)⌉ are
    // provably below threshold and die before the verification join.
    //
    // The classical AllPairs length filter (min(szA,szB) ≥ ⌈t·max⌉) is
    // subsumed: min ≥ t·max ⟺ (1+t)·min ≥ t·(min+max) ⟺
    // min ≥ t/(1+t)·(szA+szB), which is exactly this predicate at
    // rn=1, and the predicate is strictly stronger for rn>1 (szX-rnX+1
    // ≤ szX). Adding the length filter as a second conjunct would be
    // pure redundant compute. Profiled at sf0.1 under loadavg<1 (BASELINE.md
    // round-4 re-baseline): candidates 124 839, end-to-end 4.4-5.0 s —
    // the 37.6 s in BENCH_r03 was loadavg-13 co-tenant contention, not
    // plan cost (stage split: shingle 0.3, prefix 1.1, candidate 0.7,
    // verify 0.8 warm).
    val cand = prefix.as("a")
      .join(prefix.as("b"), col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .filter(
        least(col("a.sz") - col("a.rn"), col("b.sz") - col("b.rn")) + 1 >=
          ceil(lit(threshold / (1 + threshold)) * (col("a.sz") + col("b.sz"))))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()

    // exact verification against full (hashed) shingle sets
    val sets = if (maxDf > 0) {
      tok.groupBy(col("id")).agg(collect_list(col("s")).as("sh"))
    } else sh0
    cand
      .join(sets.select(col("id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jaccard",
        round(Shingling.jaccard(col("sh_a"), col("sh_b")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }
}
