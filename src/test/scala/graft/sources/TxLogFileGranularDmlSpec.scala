package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Copy-on-write DML at FILE granularity: MERGE / UPDATE / DELETE
  * classify every live file against the batch (manifest min/max +
  * Bloom), carry provably-untouched files forward VERBATIM as
  * protocol-v5 entries, and rewrite only the may-match files. Pinned:
  * kept files byte-identical (same store paths), rewritten = may-match
  * only (`lastDmlRewritten`), results and CDC identical to the
  * full-rewrite semantics, the latest-wins duplicate-key collapse
  * surviving the optimization, deletion vectors carried for kept
  * files, the all-new-keys merge committing as a plain append, and
  * the distributed classification arm agreeing with the driver arm.
  */
class TxLogFileGranularDmlSpec extends SparkSpec {

  private val sch = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("tag", StringType, nullable = true),
    StructField("v", LongType, nullable = true)))

  /** A table clustered into 4 key-disjoint files (k ∈ [0,25), [25,50),
    * [50,75), [75,100)) with full skipping stats.
    */
  private def clustered(): TxLogTable = {
    val root = Files.createTempDirectory("txfg").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(sch)
    import scala.jdk.CollectionConverters._
    t.append(spark.createDataFrame(
      (0L until 100L).map(i => Row(i, s"t$i", i * 10L)).asJava, sch))
    t.compactClustered(Seq("k"), 4, statsCols = Seq("k", "v"))
    t
  }

  private def df(rows: (Long, String, Long)*) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map(r => Row(r._1, r._2, r._3)).asJava, sch)
  }

  test("point DELETE rewrites only the may-match file; kept files " +
      "ride verbatim") {
    val t = clustered()
    val before = t.liveDataPaths(t.currentVersion).toSet
    assert(before.size === 4)
    val vBefore = t.currentVersion
    t.delete(col("k") === 30L, statsCols = Seq("k", "v"))
    assert(TxLogTable.lastDmlRewritten === 1,
      s"expected 1 rewritten file, got ${TxLogTable.lastDmlRewritten}")
    val after = t.liveDataPaths(t.currentVersion).toSet
    // the three untouched files are the IDENTICAL store paths
    assert((before intersect after).size === 3,
      s"kept files must survive verbatim:\n$before\nvs\n$after")
    assert(t.read().count() === 99L)
    assert(t.read().filter(col("k") === 30L).count() === 0L)
    // kept entries are protocol-v5 file-granular (the touched dir split)
    assert(t.requiredReaderAt(t.currentVersion) === 5)
    // CDC: exactly the dropped row as a typed delete
    val feed = t.changes(vBefore, t.currentVersion)
      .select("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(feed.toSeq === Seq((30L, "delete")))
    // skipping stats survived for kept files: a pruned read still bites
    graft.sources.TxLogTable.lastPlanMaterialized = -1
    assert(t.readWhere(col("k") === 80L).count() === 1L)
    // time travel: pre-delete snapshot intact
    assert(t.readAt(vBefore).count() === 100L)
  }

  test("no-match DELETE/UPDATE is a metadata-only no-op commit") {
    val t = clustered()
    val paths = t.liveDataPaths(t.currentVersion).toSet
    val v0 = t.currentVersion
    t.delete(col("k") === 5000L, statsCols = Seq("k"))
    assert(TxLogTable.lastDmlRewritten === 0)
    assert(t.currentVersion === v0 + 1) // marker parity: version advances
    assert(t.liveDataPaths(t.currentVersion).toSet === paths)
    t.update(col("k") === 5000L, Map("v" -> lit(0L)))
    assert(t.liveDataPaths(t.currentVersion).toSet === paths)
    assert(t.read().count() === 100L)
  }

  test("point UPDATE rewrites one file with exact pre/post CDC") {
    val t = clustered()
    val before = t.liveDataPaths(t.currentVersion).toSet
    val vBefore = t.currentVersion
    t.update(col("k") === 77L, Map("v" -> lit(-1L)),
      statsCols = Seq("k", "v"))
    assert(TxLogTable.lastDmlRewritten === 1)
    assert((before intersect t.liveDataPaths(t.currentVersion).toSet)
      .size === 3)
    assert(t.read().filter(col("k") === 77L).select("v")
      .collect().head.getLong(0) === -1L)
    assert(t.read().count() === 100L)
    val feed = t.changes(vBefore, t.currentVersion)
      .select("k", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(feed === Set((77L, 770L, "update_preimage"),
      (77L, -1L, "update_postimage")))
  }

  test("MERGE rewrites only files holding source keys; all-new keys " +
      "commit as an append") {
    val t = clustered()
    val before = t.liveDataPaths(t.currentVersion).toSet
    // keys 10 and 12 live in file 1; key 990 is new
    t.merge(df((10L, "upd", 1L), (12L, "upd", 2L), (990L, "new", 3L)),
      Seq("k"), Seq(col("v").asc), statsCols = Seq("k", "v"))
    assert(TxLogTable.lastDmlRewritten === 1,
      s"got ${TxLogTable.lastDmlRewritten}")
    val after = t.liveDataPaths(t.currentVersion).toSet
    assert((before intersect after).size === 3)
    assert(t.read().count() === 101L)
    assert(t.read().filter(col("k") === 10L).select("tag")
      .collect().head.getString(0) === "upd")
    assert(t.read().filter(col("k") === 50L).select("tag")
      .collect().head.getString(0) === "t50") // kept rows untouched
    // all-new keys: live set EXTENDS (append action), nothing rewritten
    val hist0 = t.history().length
    t.merge(df((991L, "n1", 1L), (992L, "n2", 2L)),
      Seq("k"), Seq(col("v").asc))
    assert(TxLogTable.lastDmlRewritten === 0)
    assert(t.history().length === hist0 + 1)
    assert(t.history().last._2 === "append")
    assert(t.read().count() === 103L)
    // the append extended the post-merge live set verbatim
    assert(after.subsetOf(t.liveDataPaths(t.currentVersion).toSet))
  }

  test("latest-wins collapse of UNNAMED duplicate keys survives the " +
      "file-granular optimization") {
    val root = Files.createTempDirectory("txfgdup").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(sch)
    import scala.jdk.CollectionConverters._
    // file A: keys 0..9; file B: keys 10..19 PLUS a duplicate of key 5
    t.append(spark.createDataFrame(
      (0L until 10L).map(i => Row(i, "a", i)).asJava, sch).coalesce(1),
      statsCols = Seq("k", "v"))
    t.append(spark.createDataFrame(
      ((10L until 20L).map(i => Row(i, "b", i)) :+ Row(5L, "dup", 99L))
        .asJava, sch).coalesce(1),
      statsCols = Seq("k", "v"))
    // merge names key 15 ONLY — but the latest-wins window must still
    // collapse the duplicate key 5 group (both files hold it)
    t.merge(df((15L, "upd", 1L)), Seq("k"), Seq(col("v").desc))
    val k5 = t.read().filter(col("k") === 5L).collect()
    assert(k5.length === 1, s"dup key must collapse: ${k5.toSeq}")
    assert(k5.head.getString(1) === "dup") // v=99 wins desc precedence
    assert(t.read().count() === 20L)
  }

  test("deletion vectors carry forward for kept files and fold for " +
      "rewritten ones") {
    val t = clustered()
    // DV-delete one row in file 0 (k=3) and one in file 2 (k=60)
    t.deleteVectored(col("k").isin(3L, 60L))
    assert(t.read().count() === 98L)
    // file-granular DELETE touching file 2 only (k=55)
    t.delete(col("k") === 55L, statsCols = Seq("k", "v"))
    assert(TxLogTable.lastDmlRewritten === 1)
    // k=3's DV must still apply (kept file), k=60 stays folded away
    // (its file was rewritten DV-applied), k=55 is gone
    assert(t.read().count() === 97L)
    assert(t.read().filter(col("k").isin(3L, 55L, 60L)).count() === 0L)
    // a full rewrite (compact) still resets the vectors
    t.compact(1000L)
    assert(t.dvDirsAt(t.currentVersion).isEmpty)
    assert(t.read().count() === 97L)
  }

  test("mergeConditional: kept files verbatim, clause semantics intact") {
    val t = clustered()
    val before = t.liveDataPaths(t.currentVersion).toSet
    t.mergeConditional(df((40L, "hit", 0L), (998L, "ins", 8L)),
      Seq("k"),
      whenMatched = Seq(TxLogTable.MatchedUpdate(None)),
      statsCols = Seq("k", "v"))
    assert(TxLogTable.lastDmlRewritten === 1)
    assert((before intersect t.liveDataPaths(t.currentVersion).toSet)
      .size === 3)
    assert(t.read().count() === 101L)
    assert(t.read().filter(col("k") === 40L).select("tag")
      .collect().head.getString(0) === "hit")
    assert(t.read().filter(col("k") === 41L).select("tag")
      .collect().head.getString(0) === "t41")
  }

  test("distributed classification arm (threshold=1) agrees with the " +
      "driver arm") {
    spark.conf.set("spark.graft.txlog.distributedPlanThreshold", "1")
    try {
      val t = clustered()
      t.checkpoint() // stats into a parquet checkpoint for the job arm
      val before = t.liveDataPaths(t.currentVersion).toSet
      t.delete(col("k") === 30L, statsCols = Seq("k", "v"))
      assert(TxLogTable.lastDmlRewritten === 1)
      assert((before intersect t.liveDataPaths(t.currentVersion).toSet)
        .size === 3)
      assert(t.read().count() === 99L)
      t.merge(df((80L, "upd", 1L)), Seq("k"), Seq(col("v").asc))
      assert(TxLogTable.lastDmlRewritten === 1)
      assert(t.read().filter(col("k") === 80L).select("tag")
        .collect().head.getString(0) === "upd")
    } finally
      spark.conf.unset("spark.graft.txlog.distributedPlanThreshold")
  }

  test("updateVectored: merge-on-read point update equals the " +
      "rewrite update, CDC pre/post included") {
    val t = clustered()
    val live0 = t.liveDataPaths(t.currentVersion).toSet
    val vBefore = t.currentVersion
    t.updateVectored(col("k") === 42L, Map("v" -> lit(-5L),
      "tag" -> lit("mor")))
    // NO live file was rewritten: the old live set survives verbatim,
    // one appended post-image dir joins it
    val live1 = t.liveDataPaths(t.currentVersion).toSet
    assert(live0.subsetOf(live1), "updateVectored must not rewrite")
    assert(t.dvDirsAt(t.currentVersion).nonEmpty)
    // read-side state identical to a rewrite update
    assert(t.read().count() === 100L)
    val got = t.read().filter(col("k") === 42L).collect()
    assert(got.length === 1)
    assert(got.head.getString(1) === "mor" && got.head.getLong(2) === -5L)
    // CDC: typed pre/post pair
    val feed = t.changes(vBefore, t.currentVersion)
      .select("k", "tag", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3))).toSet
    assert(feed === Set((42L, "t42", 420L, "update_preimage"),
      (42L, "mor", -5L, "update_postimage")))
    // no-match: metadata-only commit
    val v1 = t.currentVersion
    t.updateVectored(col("k") === 7777L, Map("v" -> lit(0L)))
    assert(t.currentVersion === v1 + 1)
    assert(t.read().count() === 100L)
    // a second vectored update over the SAME key updates the
    // post-image row (the appended dir is scanned too)
    t.updateVectored(col("k") === 42L, Map("v" -> lit(-6L)))
    val got2 = t.read().filter(col("k") === 42L).collect()
    assert(got2.length === 1 && got2.head.getLong(2) === -6L)
    // an overwrite-class commit folds the vectors away
    t.compact(1000L)
    assert(t.dvDirsAt(t.currentVersion).isEmpty)
    assert(t.read().filter(col("k") === 42L).collect()
      .head.getLong(2) === -6L)
  }

  test("incremental OPTIMIZE: large in-order files are not rewritten, " +
      "the small-file tail bins") {
    val root = Files.createTempDirectory("txfgopt").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(sch)
    import scala.jdk.CollectionConverters._
    // one LARGE clustered file plus five 1-row micro-commits
    t.append(spark.createDataFrame(
      (0L until 1000L).map(i => Row(i, "big", i)).asJava, sch)
      .coalesce(1), statsCols = Seq("k", "v"))
    (0 until 5).foreach { i =>
      t.append(df((2000L + i, s"s$i", i.toLong)), statsCols = Seq("k"))
    }
    val bigPath = t.liveDataPaths(t.currentVersion)
      .find(p => spark.read.parquet(p).count() == 1000L).get
    val bigBytes = {
      val fs = new org.apache.hadoop.fs.Path(bigPath).getFileSystem(
        spark.sessionState.newHadoopConf())
      fs.getContentSummary(new org.apache.hadoop.fs.Path(bigPath))
        .getLength
    }
    // bin only files smaller than the big one
    t.compactIncremental(targetRowsPerFile = 100L,
      minFileBytes = bigBytes)
    assert(TxLogTable.lastDmlRewritten === 5)
    val after = t.liveDataPaths(t.currentVersion).toSet
    assert(after.contains(bigPath),
      "the large file must ride forward verbatim")
    assert(t.read().count() === 1005L)
    // the 5 micro-files became one binned file
    assert(after.size === 2, after.mkString("\n"))
    // fewer than two candidates: no-op, version unchanged
    val v0 = t.currentVersion
    t.compactIncremental(targetRowsPerFile = 100L,
      minFileBytes = bigBytes)
    assert(t.currentVersion === v0)
  }

  test("SQL OPTIMIZE ... WHERE compacts only the predicate's files") {
    val root = Files.createTempDirectory("txfgoptw").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(sch)
    import scala.jdk.CollectionConverters._
    // per-group commits, two small files per group (grp = k/100)
    (0L until 3L).foreach { g =>
      (0 until 2).foreach { i =>
        t.append(spark.createDataFrame(
          (0L until 10L).map(j => Row(g * 100L + j, s"g$g", j)).asJava,
          sch).coalesce(1), statsCols = Seq("k", "v"))
      }
    }
    assert(t.liveDataPaths(t.currentVersion).size === 6)
    val before = t.liveDataPaths(t.currentVersion).toSet
    graft.plans.GraftSql.sql(spark,
      s"OPTIMIZE txlog.`$root` WHERE k < 100 INTO 1 FILES").collect()
    val after = t.liveDataPaths(t.currentVersion).toSet
    // grp-0's two files binned into one; the other four ride verbatim
    assert(TxLogTable.lastDmlRewritten === 2)
    assert((before intersect after).size === 4)
    assert(t.read().count() === 60L)
    assert(t.readWhere(col("k") < 100L).count() === 20L)
  }

  test("MERGE WITH SCHEMA EVOLUTION: source-only columns widen, " +
      "missing source columns keep/null-fill") {
    val root = Files.createTempDirectory("txfgse").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(sch)
    import scala.jdk.CollectionConverters._
    t.append(spark.createDataFrame(
      Seq(Row(1L, "a", 10L), Row(2L, "b", 20L)).asJava, sch),
      statsCols = Seq("k"))
    // schema-drifting upsert feed: no `v`, new `score`
    val drift = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("tag", StringType, nullable = true),
      StructField("score", DoubleType, nullable = true)))
    val src = spark.createDataFrame(
      Seq(Row(2L, "B", 0.5), Row(3L, "c", 0.9)).asJava, drift)
    // without the flag: loud refusal (source lacks `v`)
    val e = intercept[IllegalArgumentException] {
      t.mergeConditional(src, Seq("k"),
        whenMatched = Seq(TxLogTable.MatchedUpdate(None)))
    }
    assert(e.getMessage.contains("lacks target columns"), e.getMessage)
    t.mergeConditional(src, Seq("k"),
      whenMatched = Seq(TxLogTable.MatchedUpdate(None)),
      withSchemaEvolution = true)
    val out = t.read().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3))).toSeq
    assert(t.read().schema.fieldNames.toSeq ===
      Seq("k", "tag", "v", "score"))
    assert(out === Seq(
      (1L, "a", 10L, null),   // untouched, score reads null
      (2L, "B", 20L, 0.5),    // updated: v KEPT (source lacks it)
      (3L, "c", null, 0.9)))  // inserted: v null-filled
    // SQL surface: Spark's own MERGE WITH SCHEMA EVOLUTION grammar
    val drift2 = StructType(drift.fields :+
      StructField("lang", StringType, nullable = true))
    spark.createDataFrame(
      Seq(Row(3L, "C", 1.0, "en"), Row(4L, "d", 0.1, "fr")).asJava,
      drift2).createOrReplaceTempView("se_src")
    graft.plans.GraftSql.sql(spark,
      s"MERGE WITH SCHEMA EVOLUTION INTO txlog.`$root` AS t " +
        "USING se_src AS s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *").collect()
    val out2 = t.read().orderBy("k").collect()
    assert(t.read().schema.fieldNames.toSeq ===
      Seq("k", "tag", "v", "score", "lang"))
    assert(out2.length === 4)
    assert(out2(2).getString(1) === "C" && out2(2).getString(4) === "en")
    assert(out2(3).getString(1) === "d" && out2(3).isNullAt(2))
    // type conflict still rejects (evolution is additive, not coercive)
    val bad = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", StringType, nullable = true)))
    val e2 = intercept[IllegalArgumentException] {
      t.mergeConditional(spark.createDataFrame(
        Seq(Row(1L, "boom")).asJava, bad), Seq("k"),
        whenMatched = Seq(TxLogTable.MatchedUpdate(None)),
        withSchemaEvolution = true)
    }
    assert(e2.getMessage.contains("cannot change type"), e2.getMessage)
    // renamed-column interaction: a source column named like a
    // RETIRED physical identity must reject, not shadow
    t.renameColumn("tag", "label")
    val shadow = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("tag", StringType, nullable = true)))
    val e3 = intercept[IllegalArgumentException] {
      t.mergeConditional(spark.createDataFrame(
        Seq(Row(1L, "ghost")).asJava, shadow), Seq("k"),
        whenMatched = Seq(TxLogTable.MatchedUpdate(None)),
        withSchemaEvolution = true)
    }
    assert(e3.getMessage.contains("physical identity"), e3.getMessage)
  }

  test("files without stats rewrite conservatively (no silent keep)") {
    val root = Files.createTempDirectory("txfgns").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(sch)
    import scala.jdk.CollectionConverters._
    t.append(spark.createDataFrame(
      (0L until 10L).map(i => Row(i, "a", i)).asJava, sch).coalesce(1),
      statsCols = Seq("k"))
    // second commit WITHOUT stats — unprovable, must always rewrite
    t.append(spark.createDataFrame(
      (10L until 20L).map(i => Row(i, "b", i)).asJava, sch).coalesce(1))
    t.delete(col("k") === 2L)
    assert(TxLogTable.lastDmlRewritten === 2,
      "the stats-less file must join the rewrite")
    assert(t.read().count() === 19L)
    // and correctness holds even though classification was conservative
    assert(t.read().filter(col("k") === 15L).count() === 1L)
  }
}
