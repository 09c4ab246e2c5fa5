package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed WordPiece tokenizer (Schuster & Nakajima 2012, the
  * BERT tokenizer family) — the third subword family next to
  * [[Bpe]] (merge-order application) and [[UnigramLm]] (Viterbi):
  * training is BPE's merge loop with a LIKELIHOOD-scored argmax —
  * score(a,b) = count(ab) / (count(a)·count(b)) — and encoding is
  * greedy longest-match-first against the final vocabulary with
  * `##` continuation prefixes, falling back to `[UNK]` for a word
  * containing any out-of-alphabet character.
  *
  * Scale shape (the [[Bpe]] contract): ONE corpus-order pass builds
  * the distinct-word frequency table; every training round then runs
  * two vocab-sized hash aggregates (adjacent-pair counts and symbol
  * counts), a deterministic one-row argmax to the driver, and a
  * scan-stage merge fold. Encoding maps the DISTINCT-word table with
  * the vocabulary as a driver-bounded closure value (the UnigramLm
  * pattern) — per-word cost is O(len·maxPieceLen) hash probes, and
  * corpus text is never re-scanned.
  *
  * Determinism: counts are exact longs; the score is one double
  * division per candidate (no accumulation), and the argmax orders by
  * (score DESC, left, right) — bit-reproducible across partitionings
  * (spec-pinned).
  */
object WordPiece {

  /** Trained model: ordered merges and the final piece vocabulary
    * (alphabet ∪ merge products, `##`-form for continuations).
    */
  final case class Model(merges: Seq[(String, String)], vocab: Set[String]) {
    val maxPieceLen: Int =
      if (vocab.isEmpty) 1
      else vocab.iterator.map(p => p.stripPrefix("##").length).max
  }

  /** Initial WordPiece symbols: first character bare, the rest
    * `##`-prefixed — `hello` → `[h, ##e, ##l, ##l, ##o]`.
    */
  def initialSymbols(words: DataFrame): DataFrame =
    words.withColumn("syms", expr(
      """transform(filter(split(word, ''), s -> s != ''),
        |  (s, i) -> if(i = 0, s, concat('##', s)))""".stripMargin))

  /** Adjacent-pair scores over the symbol table: exact pair and
    * symbol counts (freq-weighted, every occurrence), score =
    * pair/(left·right). Bounded by the adjacent-pair vocabulary.
    */
  def pairScores(symWords: DataFrame): DataFrame = {
    val pairs = Bpe.pairCounts(symWords)
    val symCounts = symWords
      .select(explode(col("syms")).as("sym"), col("freq"))
      .groupBy("sym").agg(sum(col("freq")).as("sym_count"))
    pairs
      .join(symCounts.withColumnRenamed("sym", "left")
        .withColumnRenamed("sym_count", "left_count"), Seq("left"))
      .join(symCounts.withColumnRenamed("sym", "right")
        .withColumnRenamed("sym_count", "right_count"), Seq("right"))
      .select(col("left"), col("right"), col("pair_count"),
        (col("pair_count").cast("double") /
          (col("left_count").cast("double") *
            col("right_count").cast("double"))).as("score"))
  }

  /** The WordPiece join of a merge pair: continuation markers survive
    * on the left, disappear from the right — (`##l`, `##lo`) → `##llo`.
    */
  def joined(left: String, right: String): String =
    left + right.stripPrefix("##")

  /** Fold the ordered merge list through a `syms` column — [[
    * Bpe.foldMerges]] with the WordPiece join; merges ride as ONE
    * typed literal (shape-constant generated code).
    */
  def foldMerges(syms: Column, merges: Seq[(String, String)]): Column = {
    if (merges.isEmpty) return syms
    val packed = merges.map { case (l, r) => (l, r, joined(l, r)) }
    aggregate(
      typedLit(packed).cast("array<struct<l:string,r:string,j:string>>"),
      syms,
      (acc, m) => aggregate(acc, array().cast("array<string>"),
        (out, s) => when(
          size(out) > 0 && element_at(out, -1) === m.getField("l") &&
            s === m.getField("r"),
          concat(slice(out, lit(1), size(out) - 1),
            array(m.getField("j"))))
          .otherwise(concat(out, array(s)))))
  }

  /** Train `nMerges` likelihood-scored merges from a `(word, freq)`
    * table; returns the model (merges + vocabulary). The alphabet
    * (every initial symbol of the corpus) is always in the vocab, so
    * greedy encoding can only UNK on out-of-alphabet characters.
    *
    * `batchMerges` = [[Bpe.trainFromWords]]'s contract: top-m
    * symbol-disjoint merges per round (1 = classic exact loop).
    * Disjoint pairs leave each other's pair counts AND symbol counts
    * untouched — the WordPiece score of (c,d) reads only count(cd),
    * count(c), count(d), none of which a disjoint merge (a,b) can
    * change — so skip-free batches reproduce the classic sequence.
    */
  def trainFromWords(words: DataFrame, nMerges: Int,
      batchMerges: Int = 1): Model = {
    // the rounds run on [[Rounds.trainMerges]]; the alphabet census
    // reads the cut initial table itself — same rows, and its collect
    // is what materializes the table before round 1
    val syms = initialSymbols(words).localCheckpoint(eager = false)
    val alphabet = syms
      .select(explode(col("syms")).as("sym"))
      .distinct().collect().map(_.getString(0)).toSet
    val (ms, _) = Rounds.trainMerges(syms, nMerges, batchMerges,
      pairScores, "score", foldMerges)
    Model(ms, alphabet ++ ms.map { case (l, r) => joined(l, r) })
  }

  /** [[trainFromWords]] from raw documents (one corpus pass via
    * [[Bpe.wordFreq]]).
    */
  def train(docs: DataFrame, textCol: String, nMerges: Int): Model =
    trainFromWords(Bpe.wordFreq(docs, textCol), nMerges)

  /** Greedy longest-match-first encoding of one word (the BERT
    * `WordpieceTokenizer` contract): at each position take the
    * longest vocab piece (`##`-form past position 0); a position with
    * NO match collapses the whole word to `[unk]`.
    */
  def encodeWord(word: String, vocab: Set[String], maxPieceLen: Int,
      unk: String = "[UNK]"): Seq[String] = {
    if (word.isEmpty) return Nil
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < word.length) {
      val prefix = if (i == 0) "" else "##"
      var e = math.min(word.length, i + maxPieceLen)
      var hit: String = null
      while (e > i && hit == null) {
        val cand = prefix + word.substring(i, e)
        if (vocab.contains(cand)) hit = cand else e -= 1
      }
      if (hit == null) return Seq(unk)
      out += hit
      i = e
    }
    out.result()
  }

  /** Tokenize the distinct-word table: adds `syms` (the greedy
    * longest-match pieces). The vocabulary rides as a driver-bounded
    * closure value over a vocab-sized frame — the UnigramLm
    * distribution pattern.
    */
  def tokenizeWords(words: DataFrame, model: Model,
      unk: String = "[UNK]"): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val vocab = model.vocab
    val maxLen = model.maxPieceLen
    words.select(col("word"), col("freq"))
      .as[(String, Long)]
      .map { case (w, f) => (w, f, encodeWord(w, vocab, maxLen, unk)) }
      .toDF("word", "freq", "syms")
  }

  /** Zero-row invariant gate (q127): violations of the encoding laws
    * over the real corpus vocabulary —
    *  - every emitted piece is in the vocab (or the UNK sentinel),
    *  - `##`-placement: bare first piece, `##` continuations,
    *  - roundtrip: non-UNK pieces concatenate (markers stripped) back
    *    to the word,
    *  - coverage: a word whose characters are all in the alphabet
    *    never UNKs,
    *  - longest-match: a word that IS a vocab piece encodes as itself.
    */
  def violations(docs: DataFrame, textCol: String, nMerges: Int,
      unk: String = "[UNK]"): DataFrame = {
    val words = Bpe.wordFreq(docs, textCol).localCheckpoint()
    val model = trainFromWords(words, nMerges)
    val tok = tokenizeWords(words, model, unk).cache()
    val vocabLit = typedLit(model.vocab.toSeq.sorted)
    val isUnk = size(col("syms")) === 1 &&
      element_at(col("syms"), 1) === unk

    val badPiece = tok.filter(!isUnk &&
        exists(col("syms"), s => !array_contains(vocabLit, s)))
      .select(lit("piece_not_in_vocab").as("kind"), col("word"))
    val badMarks = tok.filter(!isUnk && (
        element_at(col("syms"), 1).startsWith("##") ||
        exists(expr("slice(syms, 2, size(syms) - 1)"),
          s => !s.startsWith("##"))))
      .select(lit("marker_misplaced").as("kind"), col("word"))
    val broken = tok.filter(!isUnk &&
        concat_ws("", transform(col("syms"),
          s => regexp_replace(s, lit("^##"), lit("")))) =!= col("word"))
      .select(lit("roundtrip").as("kind"), col("word"))
    // alphabet coverage: bare first char and ##-form of every char
    val alpha = typedLit(model.vocab.filter(v =>
      v.stripPrefix("##").length == 1).toSeq.sorted)
    val covered = !exists(expr(
      "transform(filter(split(word, ''), s -> s != ''), (s, i) -> " +
        "if(i = 0, s, concat('##', s)))"),
      s => !array_contains(alpha, s))
    val badUnk = tok.filter(isUnk && covered)
      .select(lit("unk_despite_coverage").as("kind"), col("word"))
    val selfPiece = tok.filter(array_contains(vocabLit, col("word")) &&
        col("syms") =!= array(col("word")))
      .select(lit("vocab_word_not_identity").as("kind"), col("word"))

    badPiece.union(badMarks).union(broken).union(badUnk).union(selfPiece)
  }
}
