package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import graft.SparkSpec

/** Commit metrics come from the staging tasks' commit messages (no
  * extra Spark action) and ride the manifest: rows written, updated
  * and deleted, files added and removed, bytes added and duration.
  * Pinned here for append, merge, conditional merge and delete, and
  * on the DESCRIBE HISTORY `operation_metrics` column.
  */
class TxLogCommitMetricsSpec extends SparkSpec {
  import spark.implicits._
  private implicit val fmts: Formats = DefaultFormats

  /** The data dir commit `v` staged: the last entry it adds. */
  private def stagedDir(t: TxLogTable, v: Long): String =
    Serialization.read[TxLogTable.Manifest](new String(Files.readAllBytes(
      Paths.get(t.root, "_log", f"$v%020d.json")), "UTF-8")).add.last

  private def liveFiles(t: TxLogTable, v: Long): Long =
    t.scanPathsAt(v, lit(true)).size.toLong

  private def df(rows: (Long, String, Long)*): DataFrame =
    rows.toDF("k", "v", "ts")

  /** Files and bytes of the data dir commit `v` added last. */
  private def addedFiles(t: TxLogTable, v: Long, dir: String): (Long, Long) = {
    val files = Files.list(Paths.get(t.root, "data", dir)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
    (files.length.toLong, files.map(Files.size).sum)
  }

  private def check(t: TxLogTable, v: Long, rows: Long, updated: Long,
      deleted: Long, removed: Long): Unit = {
    val m = t.metricsAt(v).getOrElse(fail(s"version $v carries no metrics"))
    val dir = stagedDir(t, v)
    val (files, bytes) = addedFiles(t, v, dir)
    assert(m("numOutputRows") === rows, m)
    assert(m("numUpdatedRows") === updated, m)
    assert(m("numDeletedRows") === deleted, m)
    assert(m("numRemovedFiles") === removed, m)
    assert(m("numAddedFiles") === files, m)
    assert(m("numAddedBytes") === bytes, m)
    assert(files > 0 && m("executionTimeMs") >= 0L, m)
  }

  test("append, merge, conditional merge and delete record their metrics") {
    val root = Files.createTempDirectory("txmetrics").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(df().schema)
    assert(t.metricsAt(0L).isEmpty, "the create commit carries none")
    val va = t.append(df((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L))
      .coalesce(1))
    check(t, va, rows = 3, updated = 0, deleted = 0, removed = 0)
    assert(t.metricsAt(va).get("numAddedFiles") === 1L)
    // key 2 updated, key 4 inserted; the one live file is rewritten
    val vm = t.merge(df((2L, "B", 2L), (4L, "d", 2L)), Seq("k"),
      Seq(col("ts").desc))
    check(t, vm, rows = 4, updated = 1, deleted = 0, removed = 1)
    // key 1 deleted, key 3 updated, key 5 inserted, keys 2/4 kept
    val removedBefore = liveFiles(t, vm)
    val vc = t.mergeConditional(
      df((1L, "x", 9L), (3L, "C", 3L), (5L, "e", 3L)), Seq("k"),
      Seq(TxLogTable.MatchedDelete(Some("s.v = 'x'")),
        TxLogTable.MatchedUpdate(None)))
    check(t, vc, rows = 4, updated = 1, deleted = 1,
      removed = removedBefore)
    val removedBeforeDelete = liveFiles(t, vc)
    val vd = t.delete(col("k") >= 4L)
    check(t, vd, rows = 2, updated = 0, deleted = 2,
      removed = removedBeforeDelete)
    assert(t.read().select("k").as[Long].collect().sorted.toSeq ===
      Seq(2L, 3L))
  }

  test("DESCRIBE HISTORY carries operation_metrics, null on commits " +
      "without them") {
    val root = Files.createTempDirectory("txmetrics_sql").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(df().schema)
    t.append(df((1L, "a", 1L), (2L, "b", 1L)))
    val hist = spark.sql(s"DESCRIBE HISTORY txlog.`$root`").collect()
    assert(hist.map(_.getLong(0)).toSeq === Seq(1L, 0L))
    val metrics = hist.head.getMap[String, Long](3)
    assert(metrics("numOutputRows") === 2L)
    assert(metrics("numDeletedRows") === 0L)
    assert(hist.last.isNullAt(3))
  }
}
