package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Steps shared by the iterative operators' rounds: the graph
  * operators' prologue and broadcast rule, the fixed-round loop with
  * its lineage cut, and the tokenizers' merge-training loop.
  */
object Rounds {

  /** `df` eagerly `localCheckpoint`ed, with `metrics` observed on the
    * checkpoint job itself (guide §1.2), so a round's convergence
    * scalar costs no Spark job of its own. `prefix` names the metrics.
    */
  def checkpointObserved(df: DataFrame, prefix: String,
      metrics: Column*): (DataFrame, Row) = {
    val name = s"${prefix}_${java.util.UUID.randomUUID().toString.take(8)}"
    val observed = df.observe(name, metrics.head, metrics.tail: _*)
    val ck = observed.localCheckpoint()
    (ck, observed.queryExecution.observedMetrics(name))
  }

  /** Iteration width for `n` rows: ~`perPartition` rows a partition,
    * between 1 and the session parallelism, instead of one task per
    * shuffle partition on a tiny graph. Values never depend on it.
    */
  def width(spark: SparkSession, n: Long, perPartition: Long): Int =
    math.max(1, math.min(spark.sparkContext.defaultParallelism,
      (n / perPartition).toInt + 1))

  /** A graph operator's inputs after [[graph]]: the cached (src, dst)
    * edge frame, the cached node frame, the exact node count `n`, the
    * node cache's width `parts`, and the census row (`n`, then the
    * census metrics).
    */
  final case class Graph(edges: DataFrame, nodes: DataFrame, n: Long,
      parts: Int, census: Row) {
    def release(): Unit = { edges.unpersist(); nodes.unpersist(); () }
  }

  /** The graph operators' prologue. `edges(srcCol, dstCol)` is cached
    * as (src, dst); the node set is every id appearing as src or dst,
    * passed through `label` (which may add columns per node). One
    * Spark job counts it, with `census` aggregates riding on the same
    * job; the node frame is then cached at [[width]], a scheduling
    * choice that never moves a value.
    */
  def graph(edges: DataFrame, srcCol: String, dstCol: String,
      label: DataFrame => DataFrame = identity,
      census: Seq[Column] = Nil): Graph = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).cache()
    val nodes = label(e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct())
    val row = nodes.agg(count(lit(1)), census: _*).collect().head
    val n = row.getLong(0)
    val parts = width(edges.sparkSession, n, 2000000L)
    Graph(e, nodes.coalesce(parts).cache(), n, parts, row)
  }

  /** Whether a per-round frame of `n` node rows (an exact count) is
    * broadcast rather than shuffled or checkpointed. At ~24 B a
    * (node, score) row the bound is ~25 MB, so the choice needs no
    * planner estimate; bigger graphs keep the shuffle.
    */
  def broadcastable(n: Long): Boolean = n <= 1000000L

  /** `rounds` applications of `step` to `init`. Each round's result is
    * cut from its lineage with a lazy `localCheckpoint`: the plan of
    * round k+1 starts at a LogicalRDD whatever k is. "Lazy" holds for
    * the final stage only: under adaptive execution the cut runs the
    * round's shuffle-map stages at the call, one job each
    * (`TxLogCommitJobsSpec` pins this), and the blocks of the last
    * stage compute once, inside the job that first reads them. With
    * `materialize` the last round's cut is eager, for callers that
    * release caches the result reads; zero rounds return `init`.
    */
  def fixed(init: DataFrame, rounds: Int, materialize: Boolean)(
      step: DataFrame => DataFrame): DataFrame =
    (1 to rounds).foldLeft(init) { (df, i) =>
      step(df).localCheckpoint(eager = materialize && i == rounds)
    }

  /** The merge-training loop of [[Bpe]] and [[WordPiece]]. `syms0` is
    * the initial (word, freq, syms) table, already cut from its
    * lineage. Each round ranks `pairs(syms)` by `by` descending, ties
    * by (left, right), takes up to `batchMerges` symbol-disjoint pairs
    * from the top ([[pickDisjoint]]) and folds them into every word
    * with `fold`, until `nMerges` merges are taken or no pair is left.
    * Returns the merges in order and the number of rounds, each one
    * ranking job wave.
    *
    * The symbol table is cut lazily every round: a round's ranking
    * collect is the next action anyway, so it materializes the table
    * inside its own job, and the last fold (read by nobody) never
    * runs. The flat plan avoids the nested merge-fold AQE pathology
    * of [[Bpe.trainFromWords]]' scaladoc.
    */
  private[ext] def trainMerges(syms0: DataFrame, nMerges: Int,
      batchMerges: Int, pairs: DataFrame => DataFrame, by: String,
      fold: (Column, Seq[(String, String)]) => Column)
      : (Seq[(String, String)], Int) = {
    require(nMerges >= 0)
    require(batchMerges >= 1, "batchMerges must be >= 1")
    var syms = syms0
    val merges = Seq.newBuilder[(String, String)]
    var done = false
    var taken = 0
    var rounds = 0
    while (taken < nMerges && !done) {
      val want = math.min(batchMerges, nMerges - taken)
      // fetch enough ranked candidates to survive overlap skips; the
      // collected rows stay bounded by the batch size, never the vocab
      val top = pairs(syms)
        .orderBy(col(by).desc, col("left"), col("right"))
        .limit(want * 4 + 8).collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      val picked = pickDisjoint(top, want)
      if (picked.isEmpty) done = true // every word fused to one symbol
      else {
        merges ++= picked
        taken += picked.size
        syms = syms.withColumn("syms", fold(col("syms"), picked))
          .localCheckpoint(eager = false)
      }
      rounds += 1
    }
    (merges.result(), rounds)
  }

  /** Greedy non-overlapping selection from a ranked candidate list:
    * take pairs in rank order, skipping any that shares a symbol with
    * an already-taken pair. Symbol-disjoint pairs have EXACTLY
    * invariant counts under each other's application (a merge only
    * creates/destroys pairs involving its own operands or product),
    * so applying a disjoint batch in rank order equals running the
    * classic one-merge loop whenever no skip occurred — and is a
    * documented rank-order approximation when one did.
    */
  private def pickDisjoint(ranked: Seq[(String, String)],
      want: Int): Seq[(String, String)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val out = Seq.newBuilder[(String, String)]
    var taken = 0
    val it = ranked.iterator
    while (taken < want && it.hasNext) {
      val (l, r) = it.next()
      if (!used(l) && !used(r)) {
        out += ((l, r)); used += l; used += r; taken += 1
      }
    }
    out.result()
  }
}
