package graft.ext

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Batched tokenizer training: top-m SYMBOL-DISJOINT merges per round
  * cut the sequential-round count ~m× (the fix for a 32k-merge vocab
  * being 32k sequential Spark jobs). Pinned here: on a fixture whose
  * ranked pairs are genuinely disjoint, the batched trainer produces
  * the EXACT classic merge sequence in ⌈nMerges/m⌉ rounds — for both
  * BPE and WordPiece — and overlapping ranks degrade gracefully to
  * the same final result on a one-word corpus.
  */
class BpeBatchSpec extends SparkSpec {

  import spark.implicits._

  /** Four disjoint-alphabet 2-letter words with strictly ordered
    * frequencies: the ranked pairs (a,a) > (b,b) > (c,c) > (d,d) share
    * no symbols, and each merge fuses its word to ONE symbol — no
    * product pair ever enters the ranking, so classic and batched
    * training provably coincide.
    */
  private def disjointWords() =
    Seq(("aa", 40L), ("bb", 30L), ("cc", 20L), ("dd", 10L))
      .toDF("word", "freq")

  /** Merges and round count of the shared training loop, ranked and
    * folded the way [[Bpe.trainFromWords]] does.
    */
  private def bpeRounds(words: DataFrame, n: Int, m: Int) =
    Rounds.trainMerges(Bpe.initialSymbols(words), n, m,
      Bpe.pairCounts, "pair_count", Bpe.foldMerges)

  /** The same for [[WordPiece.trainFromWords]]. */
  private def wordPieceRounds(words: DataFrame, n: Int, m: Int) =
    Rounds.trainMerges(WordPiece.initialSymbols(words), n, m,
      WordPiece.pairScores, "score", WordPiece.foldMerges)

  test("BPE: batched disjoint merges = classic sequence, in ceil(n/m) rounds") {
    val classic = Bpe.trainFromWords(disjointWords(), 4, batchMerges = 1)
    assert(bpeRounds(disjointWords(), 4, 1) == ((classic, 4)))
    assert(classic == Seq(("a", "a"), ("b", "b"), ("c", "c"), ("d", "d")))
    val batched = Bpe.trainFromWords(disjointWords(), 4, batchMerges = 4)
    assert(batched == classic)
    assert(bpeRounds(disjointWords(), 4, 4) == ((classic, 1)))
    // m=3 over 4 merges: 2 rounds (3 + 1)
    assert(Bpe.trainFromWords(disjointWords(), 4, batchMerges = 3) == classic)
    assert(bpeRounds(disjointWords(), 4, 3) == ((classic, 2)))
    // tokenization under the batched merges is identical too
    val tok = Bpe.tokenizeWords(disjointWords(), batched)
      .orderBy("word").collect().map(_.getSeq[String](2).toSeq).toSeq
    assert(tok == Seq(Seq("aa"), Seq("bb"), Seq("cc"), Seq("dd")))
  }

  test("BPE: overlapping ranks skip within a batch and converge to the same merges") {
    // one word "abc": pairs (a,b) and (b,c) overlap on b — a batch of 2
    // may take only (a,b), then (ab,c) next round; final merge list
    // equals the classic sequence
    val words = Seq(("abc", 5L)).toDF("word", "freq")
    val classic = Bpe.trainFromWords(words, 2, batchMerges = 1)
    val batched = Bpe.trainFromWords(words, 2, batchMerges = 2)
    assert(classic == Seq(("a", "b"), ("ab", "c")))
    assert(batched == classic)
    // the overlap forces a second round
    assert(bpeRounds(words, 2, 2) == ((classic, 2)))
  }

  test("WordPiece: batched disjoint merges = classic model, fewer rounds") {
    val classic = WordPiece.trainFromWords(disjointWords(), 4, batchMerges = 1)
    assert(wordPieceRounds(disjointWords(), 4, 1) == ((classic.merges, 4)))
    val batched = WordPiece.trainFromWords(disjointWords(), 4, batchMerges = 4)
    assert(wordPieceRounds(disjointWords(), 4, 4) == ((classic.merges, 1)))
    assert(batched.merges == classic.merges)
    assert(batched.vocab == classic.vocab)
  }
}
