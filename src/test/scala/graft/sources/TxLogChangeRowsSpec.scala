package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The change rows of `merge` and `mergeConditional` are written by the
  * tasks that write the merged data. Pinned here: on seeded random
  * batches they equal, as a multiset, the key-presence classification
  * of the pre- and post-commit rows ([[TxLogOracles.changeRows]]) —
  * with null keys, duplicate target keys (whose groups a latest-wins
  * merge collapses, and which a conditional merge can split between
  * its delete and keep arms), and pure-insert merges.
  */
class TxLogChangeRowsSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", LongType),
    StructField("v", StringType),
    StructField("n", IntegerType)))

  /** `n` rows keyed in [lo, lo + span): duplicates, and null keys when
    * `nullKeys` (at most one null key when `uniqueKeys`).
    */
  private def rows(seed: Long, n: Int, lo: Long, span: Int,
      nullKeys: Boolean, uniqueKeys: Boolean = false): DataFrame = {
    val r = new Random(seed)
    val raw = (0 until n).map { _ =>
      val k: Any =
        if (nullKeys && r.nextInt(8) == 0) null else lo + r.nextInt(span)
      Row(k, if (r.nextInt(6) == 0) null else r.alphanumeric.take(3).mkString,
        r.nextInt(100))
    }
    val kept = if (!uniqueKeys) raw else raw.groupBy(_.get(0)).values.map(_.head).toSeq
    spark.createDataFrame(kept.asJava, schema)
  }

  private def fresh(name: String): TxLogTable = {
    val t = new TxLogTable(spark,
      Files.createTempDirectory(s"txcdc_$name").toString)
    t.ensureExists(schema)
    t
  }

  private def multiset(df: DataFrame): Seq[String] =
    df.select("k", "v", "n", "_change_type").collect()
      .map(_.toSeq.mkString("|")).toSeq.sorted

  /** Commit `write` on `t` and compare its change rows with the oracle
    * over the snapshots around it (no stats: every live file is
    * rewritten, so the snapshots are the merge's input and output).
    */
  private def assertChangeRows(t: TxLogTable, source: DataFrame)(
      write: => Long): Unit = {
    val v0 = t.currentVersion
    val before = t.readAt(v0).cache()
    before.count()
    val v = write
    val expected = TxLogOracles.changeRows(before, t.readAt(v),
      source.select("k").distinct(), Seq("k"))
    val actual = t.changes(v0, v)
    assert(multiset(actual) === multiset(expected))
    assert(actual.count() > 0)
    before.unpersist()
  }

  private val precedence = Seq(col("n").desc, col("v").desc_nulls_last)

  test("latest-wins merge: change rows equal the oracle (seeded, null and " +
      "duplicate keys, pure inserts)") {
    for (seed <- 1L to 3L) {
      val t = fresh(s"merge$seed")
      val first = rows(seed, 60, 0L, 20, nullKeys = true)
      // pure-insert merge into the empty table
      assertChangeRows(t, first)(t.merge(first, Seq("k"), precedence))
      t.append(rows(seed + 10, 40, 0L, 25, nullKeys = true))
      val src = rows(seed + 20, 30, 15L, 30, nullKeys = true)
      assertChangeRows(t, src)(t.merge(src, Seq("k"), precedence))
      // a batch of only new keys still collapses the duplicated keys
      t.append(rows(seed + 30, 20, 0L, 10, nullKeys = false))
      val novel = rows(seed + 40, 10, 1000L, 50, nullKeys = false)
      assertChangeRows(t, novel)(t.merge(novel, Seq("k"), precedence))
    }
  }

  test("conditional merge: change rows equal the oracle (seeded, delete " +
      "and keep arms within duplicate-key groups, null keys)") {
    val clauses = Seq(
      TxLogTable.MatchedDelete(Some("t.n > 60")),
      TxLogTable.MatchedUpdate(Some("s.n > t.n")))
    for (seed <- 1L to 3L) {
      val t = fresh(s"cond$seed")
      val first = rows(seed, 40, 0L, 60, nullKeys = true, uniqueKeys = true)
      // pure-insert conditional merge into the empty table
      assertChangeRows(t, first)(t.mergeConditional(first, Seq("k"), clauses))
      t.append(rows(seed + 10, 80, 0L, 30, nullKeys = true))
      val src = rows(seed + 20, 40, 10L, 40, nullKeys = true,
        uniqueKeys = true)
      assertChangeRows(t, src)(t.mergeConditional(src, Seq("k"), clauses,
        notMatchedCondition = Some("s.n % 2 = 0")))
      val src2 = rows(seed + 30, 30, 0L, 35, nullKeys = false,
        uniqueKeys = true)
      assertChangeRows(t, src2)(t.mergeConditional(src2, Seq("k"),
        Seq(TxLogTable.MatchedDelete(Some("s.n < 50"))),
        insertWhenNotMatched = false))
    }
  }
}
