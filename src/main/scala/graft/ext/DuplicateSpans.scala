package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact duplicate-SPAN removal — the "deduplicating training data"
  * substring tier (Lee et al. 2021, arXiv:2107.06499): any run of ≥ k
  * consecutive tokens that appears in more than one document is cut
  * from every document except a deterministic keeper (the minimum
  * doc id), keeping exactly one copy corpus-wide. This is the layer
  * between document-level dedup (fingerprint/MinHash — whole-doc
  * granularity) and line-level dedup ([[LineDedup]] — only exact
  * whole-line repeats): boilerplate paragraphs, licence blocks, and
  * quoted passages embedded mid-document are exactly what it removes.
  *
  * The reference implementation builds a corpus-wide suffix array —
  * inherently single-machine (one flat byte array + sort). The
  * Spark-native equivalent below reaches the same fixed points with
  * only hash shuffles, because a maximal duplicated span of length
  * ≥ k is exactly a maximal run of duplicated k-grams (every window
  * of the span is shared) — so a k-gram inverted index recovers the
  * spans without any suffix sort:
  *
  *   1. tokenize per doc (scan-stage; whitespace runs collapse);
  *   2. emit every k-gram with its position — an array `transform`
  *      over each row, NO explode-shuffle until the groupBy;
  *   3. groupBy gram → (keeper = min doc id, distinct-doc count):
  *      the ONE corpus-wide shuffle, map-side partial min/count;
  *   4. occurrences of cross-doc grams in non-keeper docs expand to
  *      their k covered positions; distinct + per-doc fold gives each
  *      doc its sorted cut-set (state bounded by the doc's own token
  *      count — per-row, never driver);
  *   5. rebuild: drop covered tokens, rejoin with single spaces
  *      (scan-stage array ops).
  *
  * Keep-first is doc-granular: the keeper doc keeps ALL its
  * occurrences (within-doc repeats are repetition-signal territory —
  * [[RepetitionStats]]); every other doc loses every occurrence.
  * At 100 TB the gram shuffle dominates; grams could ride as 128-bit
  * fingerprints to cut shuffle bytes (64-bit collides at trillion-gram
  * scale), at the cost of the exactness contract — kept exact here.
  */
object DuplicateSpans {

  /** Whitespace tokenization shared by engine and oracle: trim, then
    * split on single spaces after collapsing whitespace runs. Null or
    * blank text tokenizes to the empty array (`split` would yield
    * `[""]`).
    */
  def tokens(textCol: Column): Column =
    when(textCol.isNull || length(trim(textCol)) === 0,
      array().cast("array<string>"))
    .otherwise(split(regexp_replace(trim(textCol), "\\s+", " "), " "))

  /** `(doc_id, clean_text, n_cut, n_tokens)` — text with every
    * duplicated-span occurrence outside its keeper doc removed.
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    require(k >= 2, s"span width must be >= 2 tokens, got $k")
    val toks = docs.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("toks"))

    // (doc_id, pos, gram) for every k-window; array-built per row so
    // the only exchange this feeds is the gram aggregation itself
    val grams = toks.filter(size(col("toks")) >= k)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("toks")) - k + 1),
        i => struct(i.as("pos"),
          concat_ws(" ", slice(col("toks"), i, lit(k))).as("gram")))).as("pg"))
      .select(col("doc_id"), col("pg.pos").as("pos"), col("pg.gram").as("gram"))

    // cross-doc duplicated grams with their deterministic keeper
    val dup = grams.groupBy(col("gram"))
      .agg(min(col("doc_id")).as("keeper"),
        countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select(col("gram"), col("keeper"))

    // covered token positions in non-keeper docs (distinct: overlapping
    // duplicated windows cover positions multiply)
    val cuts = grams.join(dup, Seq("gram"))
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + k - 1)).as("cpos"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("cpos"))).as("cut"))

    toks.join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat_ws(" ", filter(
          transform(col("toks"), (t, i) =>
            when(col("cut").isNull ||
              !array_contains(col("cut"), i + 1), t)),
          t => t.isNotNull)).as("clean_text"),
        // an uncut doc has no cut array: size(null) is -1 when ANSI is off
        when(col("cut").isNull, lit(0L))
          .otherwise(size(col("cut")).cast("long")).as("n_cut"),
        size(col("toks")).cast("long").as("n_tokens"))
  }
}
