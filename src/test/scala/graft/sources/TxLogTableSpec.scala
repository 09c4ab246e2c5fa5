package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkSpec

/** Pins the transactional commit-log table: snapshot isolation, time
  * travel, the atomic create-if-absent commit primitive, and — the
  * reason the format exists — no lost update under concurrent
  * read-modify-write writers (deterministic interleave AND a real
  * threaded race).
  */
class TxLogTableSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", StringType, nullable = true),
    StructField("ts", LongType, nullable = false)))

  private def df(rows: (Long, String, Long)*) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map { case (k, v, ts) => Row(k, v, ts) }.asJava, schema)
  }

  private def fresh(): TxLogTable = {
    val dir = Files.createTempDirectory("txlog").toString
    new TxLogTable(spark, dir)
  }

  private def asMap(t: TxLogTable, version: Long = -2): Map[Long, (String, Long)] = {
    val d = if (version == -2) t.read() else t.readAt(version)
    d.collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
  }

  test("create / append / merge / time travel") {
    val t = fresh()
    t.ensureExists(schema)
    assert(t.currentVersion === 0L)
    assert(t.read().count() === 0L)
    // re-running create is a no-op, not a reset
    t.ensureExists(schema)
    assert(t.currentVersion === 0L)

    val v1 = t.append(df((1L, "a", 10L), (2L, "b", 10L)))
    assert(v1 === 1L)
    val v2 = t.append(df((3L, "c", 10L)))
    assert(v2 === 2L)
    assert(asMap(t).keySet === Set(1L, 2L, 3L))

    // merge: k=2 updated (newer ts wins), k=4 inserted
    val v3 = t.merge(df((2L, "B", 20L), (4L, "d", 20L)),
      Seq("k"), Seq(col("ts").desc, col("v").desc))
    assert(v3 === 3L)
    assert(asMap(t) === Map(
      1L -> ("a", 10L), 2L -> ("B", 20L), 3L -> ("c", 10L), 4L -> ("d", 20L)))

    // merge precedence: a STALE update (older ts) must lose
    t.merge(df((2L, "stale", 5L)), Seq("k"), Seq(col("ts").desc, col("v").desc))
    assert(asMap(t)(2L) === ("B", 20L))

    // time travel: every committed snapshot is still exactly readable
    assert(asMap(t, 0L) === Map.empty)
    assert(asMap(t, 1L).keySet === Set(1L, 2L))
    assert(asMap(t, 2L).keySet === Set(1L, 2L, 3L))
    assert(asMap(t, 3L)(2L) === ("B", 20L))
    assert(t.history().map(_._2) ===
      Seq("overwrite", "append", "append", "overwrite", "overwrite"))
  }

  test("insert-ignore keeps existing keys and appends only novel rows") {
    val t = fresh()
    t.ensureExists(schema)
    t.append(df((1L, "a", 10L)))
    t.insertIgnore(df((1L, "CLOBBER", 99L), (2L, "b", 10L)), Seq("k"))
    assert(asMap(t) === Map(1L -> ("a", 10L), 2L -> ("b", 10L)))
    // full-duplicate batch: version still advances (replay marker), state unchanged
    val v = t.currentVersion
    t.insertIgnore(df((1L, "x", 1L), (2L, "y", 2L)), Seq("k"))
    assert(t.currentVersion === v + 1)
    assert(asMap(t) === Map(1L -> ("a", 10L), 2L -> ("b", 10L)))
  }

  test("insertIgnore: duplicate and null snapshot keys give the distinct-key plan's result") {
    import scala.jdk.CollectionConverters._
    val s = StructType(Seq(
      StructField("k", StringType, nullable = true),
      StructField("v", LongType, nullable = false)))
    def rows(xs: (String, Long)*) =
      spark.createDataFrame(xs.map { case (k, v) => Row(k, v) }.asJava, s)
    val t = fresh()
    t.ensureExists(s)
    t.append(rows(("p1", 1L), ("p1", 2L), (null, 3L), (null, 4L)))
    val updates = rows(("p1", 10L), ("p2", 11L), (null, 12L))
    // the plan before the distinct() was dropped from the snapshot keys
    val snap = t.read()
    val old = snap.unionByName(updates.dropDuplicates("k")
      .join(snap.select("k").distinct(), Seq("k"), "left_anti"))
    def sorted(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSeq.sortBy(_._2)
    val expected = sorted(old)
    val jobs = jobsStartedBy(t.insertIgnore(updates, Seq("k")))
    info(s"insertIgnore commit started $jobs Spark jobs")
    assert(sorted(t.read()) == expected)
    // p2 and the null-keyed update are new; p1 is a conflict
    assert(expected.map(_._2) == Seq(1L, 2L, 3L, 4L, 11L, 12L))
  }

  test("commit primitive: exactly one writer wins a version") {
    val t = fresh()
    t.ensureExists(schema)
    // deterministic interleave of two read-modify-write writers:
    // A reads snapshot v0, then B commits v1, then A bids for v1 → must fail
    val v0 = t.currentVersion
    val mergedA = graft.operators.Upsert.mergeByKey(
      t.readAt(v0), df((10L, "A", 1L)), Seq("k"), Seq(col("ts").desc))
    val stagedA = t.stageData(mergedA).name
    val okB = t.merge(df((20L, "B", 1L)), Seq("k"), Seq(col("ts").desc))
    assert(okB === v0 + 1)
    // A's bid for the version B just took: atomically rejected
    assert(!t.tryCommitForTest(v0 + 1, stagedA, mergedA.schema.json))
    // A retries through the public path → recomputes on B's state; both land
    t.merge(df((10L, "A", 1L)), Seq("k"), Seq(col("ts").desc))
    assert(asMap(t).keySet === Set(10L, 20L))
  }

  test("no lost update under threaded concurrent merges") {
    val t = fresh()
    t.ensureExists(schema)
    t.append(df((0L, "seed", 0L)))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (1L to 6L).map { i =>
      Future { t.merge(df((i, s"w$i", i)), Seq("k"), Seq(col("ts").desc)) }
    }
    Await.result(Future.sequence(writers), 5.minutes)
    // every writer's key present ⇒ no merge was lost in any race
    assert(asMap(t).keySet === (0L to 6L).toSet)
    // versions are a contiguous serialization of the 7 commits
    assert(t.currentVersion === 7L)
  }

  test("markers travel atomically with commits; latest-wins lookup") {
    val t = fresh()
    t.ensureExists(schema)
    assert(t.marker("_graft_batch_id") === None)
    t.append(df((1L, "a", 1L)), markers = Map("_graft_batch_id" -> "0"))
    t.insertIgnore(df((2L, "b", 1L)), Seq("k"),
      markers = Map("_graft_batch_id" -> "1", "other" -> "x"))
    assert(t.marker("_graft_batch_id") === Some("1"))
    assert(t.marker("other") === Some("x"))
    // a marker-less commit does not erase earlier markers
    t.append(df((3L, "c", 1L)))
    assert(t.marker("_graft_batch_id") === Some("1"))
  }

  test("streaming insert-ignore ingest: exactly-once across checkpoint restart") {
    import org.apache.spark.sql.functions.col
    val t = fresh()
    val src = Files.createTempDirectory("txstream_src").toString
    val ck = Files.createTempDirectory("txstream_ck").toString
    df((1L, "a", 1L), (2L, "b", 1L)).coalesce(1).write.parquet(s"$src/f0")
    df((2L, "DUP", 9L), (3L, "c", 1L)).coalesce(1).write.parquet(s"$src/f1")
    def runOnce(): Unit = {
      val q = graft.streaming.EventStreams.txInsertIgnoreIngest(
        spark, src + "/*", schema, t, ck, Seq("k"), maxFilesPerBatch = Some(1))
      q.awaitTermination(120000)
      q.exception.foreach(e => fail(s"stream failed: ${e.cause}", e))
    }
    runOnce()
    // insert-ignore: first writer of k=2 wins, DUP dropped
    assert(asMap(t) === Map(1L -> ("a", 1L), 2L -> ("b", 1L), 3L -> ("c", 1L)))
    val v1 = t.currentVersion
    assert(t.marker("_graft_batch_id").isDefined)
    // restart with the SAME checkpoint + one new file: only the new
    // file lands; re-delivered state stays exactly-once
    df((4L, "d", 1L), (1L, "CLOBBER", 9L)).coalesce(1).write.parquet(s"$src/f2")
    runOnce()
    assert(asMap(t) === Map(1L -> ("a", 1L), 2L -> ("b", 1L),
      3L -> ("c", 1L), 4L -> ("d", 1L)))
    // exactly one additional data commit — old batches were not re-run
    assert(t.currentVersion === v1 + 1)
    // lineage survives in the log: every data commit carries its batch id
    assert(t.read().filter(col("k") === 4L).count() === 1L)
  }

  test("compact collapses many commits into one data dir, state intact") {
    val t = fresh()
    t.ensureExists(schema)
    (1L to 6L).foreach(i => t.append(df((i, s"v$i", i))))
    val before = asMap(t)
    val cv = t.compact(targetRowsPerFile = 1000)
    assert(asMap(t) === before)
    // compaction is an overwrite commit listing ONE fresh dir; the
    // history (and time travel to it) survives until vacuumed
    assert(t.history().last === ((cv, "overwrite", t.history().last._3)))
    assert(asMap(t, cv - 1) === before)
    val removed = t.vacuum(retainHistory = false, minAgeMillis = 0L)
    assert(removed.length >= 6, s"expected the six pre-compaction dirs, got $removed")
    assert(asMap(t) === before)
  }

  test("checkpoint folds history; vacuum removes unreachable dirs only") {
    val t = fresh()
    t.ensureExists(schema)
    t.append(df((1L, "a", 1L)))
    t.append(df((2L, "b", 1L)))
    t.merge(df((3L, "c", 1L)), Seq("k"), Seq(col("ts").desc)) // overwrite: dirs of v1/v2 now historical
    val before = asMap(t)
    val cv = t.checkpoint()
    assert(asMap(t, cv) === before)
    // full-history vacuum keeps everything still referenced by a manifest
    assert(t.vacuum(retainHistory = true) === Nil)
    // the concurrent-writer age guard protects young dirs even when
    // unreferenced; RETAIN-0 (tests only) collects immediately
    assert(t.vacuum(retainHistory = false) === Nil)
    // dropping history removes the pre-merge dirs; current state intact
    val removed = t.vacuum(retainHistory = false, minAgeMillis = 0L)
    assert(removed.nonEmpty)
    assert(asMap(t) === before)
  }

  test("timestamp time travel resolves to the latest commit at or before the instant") {
    val t = fresh()
    t.ensureExists(schema)
    t.append(df((1L, "a", 1L)))
    t.append(df((2L, "b", 1L)))
    t.merge(df((1L, "A", 9L)), Seq("k"), Seq(col("ts").desc))
    val hist = t.history() // (version, action, tsMillis), newest-first or oldest-first per impl
    val byVersion = hist.map { case (v, _, ts) => v -> ts }.toMap
    // exactly at each commit's own timestamp → that version
    for (v <- 0L to 3L)
      assert(t.versionAsOf(byVersion(v)) >= v) // same-millisecond commits resolve to the latest
    // after the last commit → head; between commits → the earlier one
    assert(t.versionAsOf(byVersion(3L) + 1000L) === 3L)
    assert(asMap(t.readAsOf(byVersion(3L) + 1000L)) ===
      Map(1L -> ("A", 9L), 2L -> ("b", 1L)))
    intercept[IllegalArgumentException] {
      t.versionAsOf(byVersion(0L) - 1000L)
    }
  }

  private def asMap(d: org.apache.spark.sql.DataFrame): Map[Long, (String, Long)] =
    d.collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap

  test("typed CDC: merge classifies insert vs update pre/post pairs") {
    val t = fresh()
    t.ensureExists(schema)
    t.append(df((1L, "a", 1L), (2L, "b", 1L)))
    // k=1 updated (newer ts), k=3 inserted, k=2 untouched
    val v = t.merge(df((1L, "A", 9L), (3L, "c", 5L)),
      Seq("k"), Seq(col("ts").desc))
    val ch = t.changes(v - 1, v)
      .select("k", "v", "ts", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(ch === Set(
      (1L, "a", 1L, "update_preimage"),
      (1L, "A", 9L, "update_postimage"),
      (3L, "c", 5L, "insert")))
    // the post-image view of the same commit, via the legacy feed
    assert(t.changeFeed(v - 1, v).select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "A"), (3L, "c")))
  }

  test("typed CDC: conditional-merge delete arm emits explicit delete rows") {
    val t = fresh()
    t.ensureExists(schema)
    t.append(df((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 3L)))
    // delete k=1, update k=2; k=3 untouched (not in source)
    val v = t.mergeConditional(
      df((1L, "x", 10L), (2L, "B", 20L)), Seq("k"),
      whenMatched = Seq(
        TxLogTable.MatchedDelete(Some("s.v = 'x'")),
        TxLogTable.MatchedUpdate(None)),
      insertWhenNotMatched = false)
    val ch = t.changes(v - 1, v)
      .select("k", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(ch === Set(
      (1L, "a", "delete"),
      (2L, "b", "update_preimage"),
      (2L, "B", "update_postimage")))
  }

  test("typed CDC: a latest-wins merge's duplicate-key collapse is in the feed") {
    val t = fresh()
    t.ensureExists(schema)
    // raw append leaves TWO rows under k=1; the merge of an unrelated
    // key must still record the k=1 collapse (2 pre-images, 1 post)
    t.append(df((1L, "old", 1L), (1L, "new", 2L), (2L, "b", 1L)))
    val v = t.merge(df((3L, "c", 5L)), Seq("k"), Seq(col("ts").desc))
    val ch = t.changes(v - 1, v)
      .select("k", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(ch === Set(
      (1L, "old", "update_preimage"),
      (1L, "new", "update_preimage"),
      (1L, "new", "update_postimage"),
      (3L, "c", "insert")))
  }

  test("typed CDC: appends arrive as inserts; compaction contributes nothing") {
    val t = fresh()
    t.ensureExists(schema)
    val v1 = t.append(df((1L, "a", 1L)))
    val v2 = t.append(df((2L, "b", 2L)))
    val v3 = t.compact(targetRowsPerFile = 100)
    val ch = t.changes(0L, v3)
    assert(ch.filter(col("_change_type") =!= "insert").count() === 0)
    assert(ch.select("k", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, v1), (2L, v2)))
  }

  test("conditional MERGE: all four arms on one source batch") {
    val t = fresh()
    t.ensureExists(schema)
    t.append(df((1L, "a", 10L), (2L, "b", 10L), (3L, "c", 10L)))
    // k=1 untouched (not in source); k=2 updated (newer ts); k=3
    // deleted (v='DEL'); k=4 inserted; k=5 insert-guard fails
    t.mergeConditional(
      df((2L, "B", 20L), (3L, "DEL", 99L), (4L, "d", 5L), (5L, "e", -1L)),
      Seq("k"),
      whenMatched = Seq(
        TxLogTable.MatchedDelete(Some("s.v = 'DEL'")),
        TxLogTable.MatchedUpdate(Some("s.ts > t.ts"))),
      notMatchedCondition = Some("s.ts >= 0"))
    assert(asMap(t) === Map(
      1L -> ("a", 10L), 2L -> ("B", 20L), 4L -> ("d", 5L)))
  }

  test("conditional MERGE: matched row no clause claims is kept; clause order arbitrates") {
    val t = fresh()
    t.ensureExists(schema)
    t.append(df((1L, "a", 10L)))
    // stale source (ts 5 < 10): update guard fails, row kept unchanged
    t.mergeConditional(df((1L, "stale", 5L)), Seq("k"),
      whenMatched = Seq(TxLogTable.MatchedUpdate(Some("s.ts > t.ts"))))
    assert(asMap(t) === Map(1L -> ("a", 10L)))

    // a row satisfying BOTH clause conditions: first clause wins.
    // delete-first → row gone …
    t.mergeConditional(df((1L, "DEL", 99L)), Seq("k"),
      whenMatched = Seq(
        TxLogTable.MatchedDelete(Some("s.v = 'DEL'")),
        TxLogTable.MatchedUpdate(Some("s.ts > t.ts"))),
      insertWhenNotMatched = false)
    assert(asMap(t) === Map.empty)

    // … update-first on the same conditions → row updated, not deleted
    t.append(df((1L, "a", 10L)))
    t.mergeConditional(df((1L, "DEL", 99L)), Seq("k"),
      whenMatched = Seq(
        TxLogTable.MatchedUpdate(Some("s.ts > t.ts")),
        TxLogTable.MatchedDelete(Some("s.v = 'DEL'"))),
      insertWhenNotMatched = false)
    assert(asMap(t) === Map(1L -> ("DEL", 99L)))
  }

  test("conditional MERGE: ambiguous source is rejected up front") {
    val t = fresh()
    t.ensureExists(schema)
    t.append(df((1L, "a", 10L)))
    val before = t.currentVersion
    intercept[IllegalArgumentException] {
      t.mergeConditional(df((1L, "x", 1L), (1L, "y", 2L)), Seq("k"),
        whenMatched = Seq(TxLogTable.MatchedUpdate(None)))
    }
    // nothing committed
    assert(t.currentVersion === before)
    assert(asMap(t) === Map(1L -> ("a", 10L)))
  }

  test("conditional MERGE serializes with a concurrent writer (no lost update)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val t = fresh()
    t.ensureExists(schema)
    t.append(df((0L, "seed", 0L)))
    val fs = (1L to 4L).map { i =>
      Future {
        t.mergeConditional(df((i, s"w$i", i)), Seq("k"),
          whenMatched = Seq(TxLogTable.MatchedUpdate(Some("s.ts > t.ts"))))
      }
    }
    Await.result(Future.sequence(fs), 120.seconds)
    // every writer's key landed — each retry recomputed on the fresh snapshot
    assert(asMap(t) === Map(0L -> ("seed", 0L), 1L -> ("w1", 1L),
      2L -> ("w2", 2L), 3L -> ("w3", 3L), 4L -> ("w4", 4L)))
  }

  test("DELETE: WHERE semantics (null kept), CDC delete rows, time travel intact") {
    val t = fresh()
    t.ensureExists(schema)
    val v0 = t.append(df((1L, "a", 1L), (2L, null, 2L), (3L, "c", 3L)))
    // v = 'a' deletes k=1; k=2's null condition is NOT true → kept
    val v = t.delete(col("v") === "a")
    assert(asMap(t) === Map(2L -> ((null, 2L)), 3L -> (("c", 3L))))
    assert(asMap(t, v0) === Map(1L -> (("a", 1L)), 2L -> ((null, 2L)),
      3L -> (("c", 3L))), "pre-delete snapshot must stay readable")
    val ch = t.changes(v - 1, v).select("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ch === Set((1L, "delete")))
  }

  test("UPDATE: assignments only where condition holds, typed, CDC pre/post pairs") {
    val t = fresh()
    t.ensureExists(schema)
    t.append(df((1L, "a", 10L), (2L, "b", 20L), (3L, null, 30L)))
    // null condition row (k=3: v is null) is untouched; assignment
    // casts (ts is long — the int literal expression must land long)
    val v = t.update(col("v") === "a",
      Map("v" -> upper(col("v")), "ts" -> (col("ts") + 1)))
    assert(asMap(t) === Map(1L -> (("A", 11L)), 2L -> (("b", 20L)),
      3L -> ((null, 30L))))
    val ch = t.changes(v - 1, v).select("k", "v", "ts", "_change_type")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(ch === Set(
      (1L, "a", 10L, "update_preimage"),
      (1L, "A", 11L, "update_postimage")))
    // unknown column rejected up front
    intercept[IllegalArgumentException] {
      t.update(lit(true), Map("nope" -> lit(1)))
    }
  }

  test("interleaved UPDATE and DELETE serialize: each statement reads the other's commit") {
    val t = fresh()
    t.ensureExists(schema)
    t.append(df((1L, "a", 1L), (2L, "b", 2L)))
    t.update(col("k") === 1L, Map("v" -> lit("A")))
    t.delete(col("v") === "b")
    t.update(col("k") === 1L, Map("ts" -> (col("ts") * 10)))
    assert(asMap(t) === Map(1L -> (("A", 10L))))
  }

  test("RESTORE rolls back as a new auditable commit; table data metadata-only, rollback on the change feed") {
    val root = Files.createTempDirectory("txlog").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(schema)
    t.append(df((1L, "a", 1L)), statsCols = Seq("k"))   // v1
    t.append(df((2L, "b", 2L)), statsCols = Seq("k"))   // v2
    t.delete(col("k") === 1L)                           // v3
    val dirsBefore = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(java.nio.file.Paths.get(root, "data"))
      try s.iterator().asScala.size finally s.close()
    }
    val rv = t.restore(2L)                              // v4 ≡ v2
    assert(rv === 4L)
    assert(asMap(t) === asMap(t, 2L))
    assert(asMap(t).keySet === Set(1L, 2L))
    // history preserved: the pre-restore state is still time-travelable
    assert(asMap(t, 3L).keySet === Set(2L))
    assert(t.marker("restoredFrom") === Some("2"))
    // table data metadata-only: exactly ONE new dir, and it is the
    // staged CDC diff, not table data
    val dirsAfter = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(java.nio.file.Paths.get(root, "data"))
      try s.iterator().asScala.size finally s.close()
    }
    assert(dirsAfter === dirsBefore + 1)
    // the rollback IS on the change feed (Delta RESTORE-with-CDF): the
    // delete at v3 dropped k=1, the restore resurrects it. The
    // file-granular delete kept v2's dir VERBATIM (its k=2 file is
    // shared between both snapshots), so the restore diff is exactly
    // the resurrected row — no cancelling churn.
    val ch = t.changes(3L, 4L)
      .select(col("k"), col("_change_type")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(ch === Seq((1L, "insert")))
    // stats travel with the restore: pruning still effective at v4
    assert(t.scanPathsAt(rv, col("k") === 1L).size === 1)
    assert(t.scanPathsAt(rv, lit(true)).size === 2)
    // writing after a restore extends the restored line normally
    t.append(df((5L, "e", 5L)))
    assert(asMap(t).keySet === Set(1L, 2L, 5L))
  }
}
