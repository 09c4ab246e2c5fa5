package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Predicate-scoped overwrite (`replaceWhere`): atomically swap
  * exactly the rows matching a predicate, FILE-granularly, with no
  * kept byte rewritten. Pinned: the programmatic API over per-group
  * dirs (dir-granular keeps, base protocol), `writeTo(…).overwrite`
  * and SQL `INSERT INTO … REPLACE WHERE` on a PARTITIONED BY catalog
  * table (file-granular keeps, protocol v5), kept files physically
  * untouched, time travel across the swap, and every refusal arm —
  * straddling file, out-of-region batch, missing stats, live DVs.
  */
class TxLogReplaceWhereSpec extends SparkSpec {

  private val sch = StructType(Seq(
    StructField("grp", LongType, nullable = false),
    StructField("k", LongType, nullable = false),
    StructField("v", LongType, nullable = true)))

  private def groupedTable(): (String, TxLogTable) = {
    val root = Files.createTempDirectory("txrw").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(sch)
    import scala.jdk.CollectionConverters._
    (0L until 3L).foreach { g =>
      t.append(spark.createDataFrame(
        (0L until 20L).map(i => Row(g, g * 100L + i, i)).asJava, sch),
        statsCols = Seq("grp", "k", "v"))
    }
    (root, t)
  }

  test("programmatic replaceWhere swaps one group, keeps dirs whole") {
    val (root, t) = groupedTable()
    val beforePaths = t.liveDataPaths(t.currentVersion)
    val keptBefore = beforePaths.filterNot(_.isEmpty)
    val vBefore = t.currentVersion
    import scala.jdk.CollectionConverters._
    val repl = spark.createDataFrame(
      Seq(Row(1L, 9991L, 7L), Row(1L, 9992L, 8L)).asJava, sch)
    t.replaceWhere(repl, col("grp") === 1L,
      statsCols = Seq("grp", "k", "v"))
    // values: group 1 replaced, others untouched
    val got = t.read().groupBy("grp").agg(count(lit(1)).as("n"),
      max(col("k")).as("mx")).orderBy("grp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((0L, 20L, 19L), (1L, 2L, 9992L), (2L, 20L, 219L)))
    // per-group dirs → kept entries stay DIR-granular → base protocol
    assert(t.requiredReaderAt(t.currentVersion) === 1)
    // kept groups' files are the IDENTICAL paths (no rewrite)
    val afterPaths = t.liveDataPaths(t.currentVersion).toSet
    def notGroup1(p: String): Boolean =
      spark.read.parquet(p).agg(min("grp")).collect().head.getLong(0) != 1L
    val keptExpected = beforePaths.filter(notGroup1).toSet
    assert(keptExpected.subsetOf(afterPaths),
      s"kept files must survive verbatim:\n$keptExpected\nvs\n$afterPaths")
    // time travel: the pre-replace snapshot is intact
    assert(t.readAt(vBefore).filter(col("grp") === 1L).count() === 20L)
    // the census still answers from the manifest after the swap
    graft.sources.TxLogV2.lastScan = (-7, -7)
    val census = spark.read.format("txlog").load(root)
      .groupBy("grp").agg(count(lit(1)).as("n"))
    assert(census.queryExecution.executedPlan.toString
      .contains("LocalTableScan"), "kept stats must keep the census alive")
    assert(census.collect().map(_.getLong(1)).sum === 42L)
    // idempotent replay: the same batch again changes no row, and the
    // kept groups' files stay the identical paths
    val rowsOnce = t.read().collect().toSet
    t.replaceWhere(repl, col("grp") === 1L,
      statsCols = Seq("grp", "k", "v"))
    assert(t.read().collect().toSet === rowsOnce)
    assert(t.liveDataPaths(t.currentVersion).filter(notGroup1).toSet ===
      keptExpected)
  }

  test("file-granular keeps: partial dirs swap under protocol v5") {
    val root = Files.createTempDirectory("txrw5").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(sch)
    import scala.jdk.CollectionConverters._
    // ONE commit whose dir holds one file PER GROUP (group-constant
    // files, mixed dir) — replaceWhere must split the dir
    (0L until 3L).foreach { g =>
      // separate appends but then compact into one clustered commit
      t.append(spark.createDataFrame(
        (0L until 10L).map(i => Row(g, g * 100L + i, i)).asJava, sch),
        statsCols = Seq("grp", "k", "v"))
    }
    t.compactClustered(Seq("grp"), 3, statsCols = Seq("grp", "k", "v"))
    assert(t.liveDataPaths(t.currentVersion).size === 3)
    val repl = spark.createDataFrame(Seq(Row(2L, 777L, 1L)).asJava, sch)
    t.replaceWhere(repl, col("grp") === 2L,
      statsCols = Seq("grp", "k", "v"))
    // the kept entries are FILES of the compacted dir → protocol v5
    assert(t.requiredReaderAt(t.currentVersion) === 5)
    val got = t.read().groupBy("grp").agg(count(lit(1)).as("n"))
      .orderBy("grp").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((0L, 10L), (1L, 10L), (2L, 1L)))
    // skipping still prunes on the file-granular entries
    assert(t.readWhere(col("grp") === 0L).count() === 10L)
    // vacuum must NOT touch the partially-kept dir
    val doomed = t.vacuum(retainHistory = false, minAgeMillis = 0L)
    assert(t.read().count() === 21L,
      s"vacuum deleted live data (removed: $doomed)")
    // checkpoint folds the mixed-granularity live set verbatim
    t.checkpoint()
    assert(t.read().groupBy("grp").count().count() === 3L)
  }

  test("empty-batch replaceWhere is a file-granular DELETE WHERE") {
    val (_, t) = groupedTable()
    val vBefore = t.currentVersion
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), sch)
    t.replaceWhere(empty, col("grp") === 0L,
      statsCols = Seq("grp", "k", "v"))
    assert(t.read().count() === 40L)
    assert(t.read().filter(col("grp") === 0L).count() === 0L)
    // the feed is pure deletes
    val feed = t.changes(vBefore, t.currentVersion)
      .select("grp", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(feed.length === 20 && feed.forall(_ == ((0L, "delete"))))
    // time travel still serves the pre-delete snapshot
    assert(t.readAt(vBefore).count() === 60L)
    // the empty batch published no data dir without a part file
    assert(t.liveDataPaths(t.currentVersion).forall { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
      !fs.getFileStatus(hp).isDirectory ||
        fs.listStatus(hp).exists(_.getPath.getName.endsWith(".parquet"))
    }, t.liveDataPaths(t.currentVersion))
  }

  test("CDC across replaceWhere: precise delete+insert feed") {
    val (_, t) = groupedTable()
    val vBefore = t.currentVersion
    import scala.jdk.CollectionConverters._
    t.replaceWhere(spark.createDataFrame(
      Seq(Row(1L, 9991L, 7L), Row(1L, 9992L, 8L)).asJava, sch),
      col("grp") === 1L, statsCols = Seq("grp", "k", "v"))
    val feed = t.changes(vBefore, t.currentVersion)
      .select("grp", "k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val (ins, del) = feed.partition(_._3 == "insert")
    assert(ins.map(x => (x._1, x._2)).toSet === Set((1L, 9991L), (1L, 9992L)))
    // EVERY replaced row surfaces as a delete — an incremental
    // consumer's signed fold stays exact through the swap
    assert(del.length === 20 && del.forall(_._1 == 1L), del.toSeq.take(5))
    // the signed fold reproduces the snapshot delta: -20 + 2
    assert(t.read().count() === 42L)
    assert(feed.length === 22)
  }

  test("catalog writeTo(...).overwrite and SQL REPLACE WHERE") {
    val cat = s"rwlake${scala.util.Random.nextInt(1000000)}"
    val root = Files.createTempDirectory("txrwcat").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[TxLogCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.ev (grp BIGINT, k BIGINT, v BIGINT) " +
      "USING txlog PARTITIONED BY (grp)")
    import spark.implicits._
    (0L until 40L).map(i => (i % 4, i, i * 2))
      .toDF("grp", "k", "v").writeTo(s"$cat.ev").append()
    // DataFrameWriterV2 predicate overwrite
    Seq((1L, 501L, 0L), (1L, 502L, 1L)).toDF("grp", "k", "v")
      .writeTo(s"$cat.ev").overwrite(col("grp") === 1L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev WHERE grp = 1")
      .collect().head.getLong(0) === 2L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").collect()
      .head.getLong(0) === 32L)
    // SQL REPLACE WHERE (Spark's native syntax → OverwriteByExpression)
    spark.sql(s"INSERT INTO $cat.ev REPLACE WHERE grp = 2 " +
      "SELECT 2L AS grp, 601L AS k, 9L AS v")
    val per = spark.sql(
      s"SELECT grp, count(*) AS n FROM $cat.ev GROUP BY grp ORDER BY grp")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(per === Seq((0L, 10L), (1L, 2L), (2L, 1L), (3L, 10L)))
  }

  test("refusals: straddling file, out-of-region batch, no stats, DVs") {
    import scala.jdk.CollectionConverters._
    // straddling: one file mixes groups → not decidable
    val r1 = Files.createTempDirectory("txrwx1").toString
    val t1 = new TxLogTable(spark, r1)
    t1.ensureExists(sch)
    t1.append(spark.createDataFrame(
      Seq(Row(0L, 1L, 1L), Row(1L, 2L, 2L)).asJava, sch).coalesce(1),
      statsCols = Seq("grp", "k", "v"))
    val e1 = intercept[IllegalArgumentException] {
      t1.replaceWhere(spark.createDataFrame(
        Seq(Row(1L, 9L, 9L)).asJava, sch), col("grp") === 1L,
        statsCols = Seq("grp"))
    }
    assert(e1.getMessage.contains("not file-decidable"), e1.getMessage)

    // out-of-region: batch rows must satisfy the predicate
    val (_, t2) = groupedTable()
    val e2 = intercept[IllegalArgumentException] {
      t2.replaceWhere(spark.createDataFrame(
        Seq(Row(0L, 9L, 9L)).asJava, sch), col("grp") === 1L)
    }
    assert(e2.getMessage.contains("NOT matching"), e2.getMessage)

    // missing stats: a stats-less live file cannot be classified
    val r3 = Files.createTempDirectory("txrwx3").toString
    val t3 = new TxLogTable(spark, r3)
    t3.ensureExists(sch)
    t3.append(spark.createDataFrame(
      Seq(Row(0L, 1L, 1L)).asJava, sch))
    val e3 = intercept[IllegalArgumentException] {
      t3.replaceWhere(spark.createDataFrame(
        Seq(Row(1L, 9L, 9L)).asJava, sch), col("grp") === 1L)
    }
    assert(e3.getMessage.contains("skipping stats"), e3.getMessage)

  }

  test("replaceWhere over a DV-bearing snapshot: kept files keep " +
      "their vectors, the feed stays precise") {
    import scala.jdk.CollectionConverters._
    val (_, t) = groupedTable()
    // point-delete one row in the KEPT group (grp 0, k=5) and one in
    // the REPLACED group (grp 1, k=105) — merge-on-read vectors
    t.deleteVectored(col("k").isin(5L, 105L))
    assert(t.read().count() === 58L)
    val vBefore = t.currentVersion
    t.replaceWhere(spark.createDataFrame(
      Seq(Row(1L, 9991L, 7L)).asJava, sch), col("grp") === 1L,
      statsCols = Seq("grp", "k", "v"))
    // grp 1 swapped to one row; grp 0's DV still applies; grp 2 whole
    val got = t.read().groupBy("grp").agg(count(lit(1)).as("n"))
      .orderBy("grp").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((0L, 19L), (1L, 1L), (2L, 20L)))
    assert(t.read().filter(col("k") === 5L).count() === 0L)
    // CDC: the 19 LIVE replaced rows (k=105 was already deleted) as
    // deletes plus the one insert — never the DV-dead row
    val feed = t.changes(vBefore, t.currentVersion)
      .select("grp", "k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val (ins, del) = feed.partition(_._3 == "insert")
    assert(ins.map(_._2).toSeq === Seq(9991L))
    assert(del.length === 19 && del.forall(_._1 == 1L))
    assert(!del.exists(_._2 == 105L),
      "a DV-deleted row resurfaced in the replaceWhere feed")
    // maintenance arms stay green over the mixed set
    val doomed = t.vacuum(retainHistory = false, minAgeMillis = 0L)
    assert(t.read().count() === 40L, s"vacuum broke live data: $doomed")
    t.checkpoint()
    assert(t.read().count() === 40L)
  }
}
