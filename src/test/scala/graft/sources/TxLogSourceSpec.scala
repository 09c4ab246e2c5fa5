package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkSpec

/** The DataSource façade over [[TxLogTable]]: format registration,
  * read/write through DataFrameReader/Writer, pushdown-driven manifest
  * file pruning (effectiveness pinned via the relation's scan hook),
  * time-travel options, and SQL `USING txlog` DDL. Correctness is
  * always cross-checked against the programmatic API on the same root
  * — the façade must be a view, never a fork, of table semantics.
  */
class TxLogSourceSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("grp", StringType, nullable = true),
    StructField("v", LongType, nullable = false)))

  private def df(rows: (Long, String, Long)*): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map { case (k, g, v) => Row(k, g, v) }.asJava, schema)
  }

  private def sortedRows(d: DataFrame): Seq[String] =
    d.collect().map(_.toString).sorted.toSeq

  private def seeded(): (String, TxLogTable) = {
    val root = Files.createTempDirectory("txsrc").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(schema)
    // four single-file commits with disjoint k ranges → prunable
    (0L until 4L).foreach { b =>
      t.append(
        df((b * 100L until b * 100L + 50L).map(k =>
          (k, s"g${k % 3}", k * 2L)): _*).coalesce(1),
        statsCols = Seq("k"), bloomCols = Seq("grp"))
    }
    (root, t)
  }

  test("format(\"txlog\") read equals the programmatic snapshot read") {
    val (root, t) = seeded()
    val viaSource = spark.read.format("txlog").load(root)
    assert(viaSource.schema === t.read().schema)
    assert(sortedRows(viaSource) === sortedRows(t.read()))
  }

  test("filter pushdown prunes manifest files and stays exact") {
    val (root, t) = seeded()
    val q = spark.read.format("txlog").load(root)
      .filter(col("k") >= 100L && col("k") < 150L)
      .groupBy(col("grp")).agg(sum(col("v")).as("sv"))
    val expect = t.read()
      .filter(col("k") >= 100L && col("k") < 150L)
      .groupBy(col("grp")).agg(sum(col("v")).as("sv"))
    assert(sortedRows(q) === sortedRows(expect))
    val (scanned, live) = TxLogV2.lastScan
    assert(live === 4, s"expected 4 live files, saw $live")
    assert(scanned === 1, s"k-range predicate should prune to 1 file, scanned $scanned")
    // the handled predicates surface in the physical plan
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(k,100)"), plan)
  }

  test("bloom pushdown prunes on a point predicate over a non-range column") {
    val (root, t) = seeded()
    // grp cycles g0/g1/g2 in every file — range stats cannot prune it,
    // but a never-present value must still be pruned by the Bloom
    // sidecar to zero files.
    val miss = spark.read.format("txlog").load(root)
      .filter(col("grp") === "nope")
    assert(miss.count() === 0L)
    val (scanned, _) = TxLogV2.lastScan
    assert(scanned === 0, s"bloom should prune all files, scanned $scanned")
    assert(t.read().filter(col("grp") === "nope").count() === 0L)
  }

  test("unconvertible filters stay unhandled yet correct") {
    val (root, _) = seeded()
    val rel = new TxLogRelation(spark.sqlContext,
      new TxLogTable(spark, root), 4L)
    // arithmetic inside a predicate has no source-Filter form
    val q = spark.read.format("txlog").load(root)
      .filter((col("k") % 10L === 3L) && col("k") < 100L)
    assert(q.count() === 5L) // k ∈ {3,13,23,33,43}
    val (scanned, live) = TxLogV2.lastScan
    assert(scanned === 1 && live === 4,
      s"convertible half should still prune: $scanned/$live")
    assert(rel.unhandledFilters(Array(
      org.apache.spark.sql.sources.EqualTo("k", 3L))).isEmpty)
  }

  test("LIMIT pushdown plans only enough stats-covered files to hold n rows") {
    val (root, t) = seeded() // 4 files x 50 rows, stats on k
    val limited = spark.read.format("txlog").load(root).limit(60)
    assert(limited.collect().length === 60)
    // 60 rows fit in 2 of the 4 files; the other 2 are never planned
    assert(TxLogV2.lastScan === (2, 4), s"lastScan=${TxLogV2.lastScan}")
    assert(spark.read.format("txlog").load(root).limit(10).count() === 10L)
    assert(TxLogV2.lastScan === (1, 4), s"lastScan=${TxLogV2.lastScan}")
    // a limit UNDER a filter does not engage (the filter is post-scan
    // and row-reducing): full pruned-path semantics stay exact
    val q = spark.read.format("txlog").load(root)
      .filter(col("k") >= 100L).limit(5)
    assert(q.count() === 5L)
    assert(t.read().count() === 200L)
  }

  test("ungrouped count/min/max answer from the manifest with no file read") {
    val (root, t) = seeded() // stats on k, blooms on grp
    val df = spark.read.format("txlog").load(root)
      .agg(count(lit(1)).as("n"), min(col("k")).as("mn"),
        max(col("k")).as("mx"), count(col("k")).as("nk"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), plan)
    assert(!plan.contains("BatchScan"),
      s"pushed aggregate must not scan files:\n$plan")
    val r = df.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((200L, 0L, 349L, 200L)))
    // a WHERE blocks the pushdown (filters are residual) — real scan,
    // same exactness
    val filtered = spark.read.format("txlog").load(root)
      .filter(col("k") >= 100L).agg(count(lit(1)))
    assert(filtered.queryExecution.executedPlan.toString
      .contains("BatchScan"))
    // k ∈ [0,50)∪[100,150)∪[200,250)∪[300,350): k>=100 matches 150
    assert(filtered.collect().head.getLong(0) === 150L)
    // min/max over a column WITHOUT stats coverage (grp) falls back
    val viaScan = spark.read.format("txlog").load(root)
      .agg(min(col("grp")).as("g"))
    assert(viaScan.queryExecution.executedPlan.toString
      .contains("BatchScan"))
    assert(viaScan.collect().head.getString(0) === "g0")
    // a DV-bearing snapshot must not serve manifest counts
    t.deleteVectored(col("k") === 0L)
    val postDv = spark.read.format("txlog").load(root).agg(count(lit(1)))
    assert(!postDv.queryExecution.executedPlan.toString
      .contains("LocalTableScan"))
    assert(postDv.collect().head.getLong(0) === 199L)
  }

  test("grouped census answers from the manifest when files are group-constant") {
    val root = Files.createTempDirectory("txgrp").toString
    val t = new TxLogTable(spark, root)
    val sch = StructType(Seq(
      StructField("bucket", LongType, nullable = true),
      StructField("k", LongType, nullable = false),
      StructField("v", LongType, nullable = true)))
    t.ensureExists(sch)
    // per-group ingestion: each append's files are constant in bucket
    (0L until 3L).foreach { b =>
      import scala.jdk.CollectionConverters._
      val rows = (0L until 40L).map(i =>
        Row(java.lang.Long.valueOf(b), b * 1000L + i, i * 2L)).asJava
      t.append(spark.createDataFrame(rows, sch),
        statsCols = Seq("bucket", "k", "v"))
    }
    val q = spark.read.format("txlog").load(root)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("mn"),
        max(col("k")).as("mx"), count(col("v")).as("nv"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"grouped census must not open a file:\n$plan")
    val got = q.orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === (0L until 3L).map(b =>
      (b, 40L, b * 1000L, b * 1000L + 39L, 40L)))
    // decline arm: grouping by a NON-file-constant column (k varies
    // within every file) falls back to a real scan, same values
    val byK = spark.read.format("txlog").load(root)
      .groupBy(col("k") <= 10L).agg(count(lit(1)))
    assert(byK.queryExecution.executedPlan.toString.contains("BatchScan"))
    // HYBRID arm: a later append that BREAKS group-constancy (mixed
    // buckets in one file) must NOT degrade the census to a full
    // scan — the constant files still fold from the manifest and the
    // scan opens ONLY the straggler file (partial agg pushdown:
    // Spark merges census rows with the straggler's raw rows)
    import scala.jdk.CollectionConverters._
    t.append(spark.createDataFrame(
      Seq(Row(java.lang.Long.valueOf(0L), 7777L, 1L),
        Row(java.lang.Long.valueOf(2L), 8888L, 1L)).asJava, sch)
      .coalesce(1), statsCols = Seq("bucket", "k", "v"))
    val mixed = spark.read.format("txlog").load(root)
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"),
        max(col("k")).as("mx"))
    assert(mixed.queryExecution.executedPlan.toString.contains("BatchScan"),
      "the hybrid census reads stragglers through a real batch scan")
    assert(mixed.orderBy("bucket").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq ===
      Seq((41L, 7777L), (40L, 1039L), (41L, 8888L)))
    // plan pin: files opened = stragglers only (1), out of the whole
    // live set — the single mixed file, not a full rescan
    assert(graft.sources.TxLogV2.lastScan._1 === 1,
      s"hybrid census must scan ONLY the straggler: ${TxLogV2.lastScan}")
    assert(graft.sources.TxLogV2.lastScan._2 >= 4,
      s"live denominator should count all files: ${TxLogV2.lastScan}")
  }

  test("ungrouped census goes hybrid on a stats-less straggler append") {
    val root = Files.createTempDirectory("txhyb").toString
    val t = new TxLogTable(spark, root)
    val sch = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("v", LongType, nullable = true)))
    t.ensureExists(sch)
    import scala.jdk.CollectionConverters._
    t.append(spark.createDataFrame(
      (0L until 50L).map(i => Row(i, i * 2L)).asJava, sch),
      statsCols = Seq("k", "v"))
    // stats-LESS append: the old complete pushdown declined outright
    // and rescanned everything; the hybrid scans just this file
    t.append(spark.createDataFrame(
      Seq(Row(999L, java.lang.Long.valueOf(5L))).asJava, sch)
      .coalesce(1))
    val q = spark.read.format("txlog").load(root)
      .agg(count(lit(1)).as("n"), min(col("k")).as("mn"),
        max(col("k")).as("mx"), count(col("v")).as("nv"))
    val r = q.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((51L, 0L, 999L, 51L)))
    assert(TxLogV2.lastScan._1 === 1,
      s"ungrouped hybrid must scan only the straggler: ${TxLogV2.lastScan}")
  }

  test("time travel via versionAsOf and timestampAsOf options") {
    val (root, t) = seeded()
    val v2 = spark.read.format("txlog")
      .option("versionAsOf", "2").load(root)
    assert(sortedRows(v2) === sortedRows(t.readAt(2L)))
    assert(v2.count() === 100L)
    val tsOfV3 = t.history().find(_._1 == 3L).get._3
    val atTs = spark.read.format("txlog")
      .option("timestampAsOf", tsOfV3.toString).load(root)
    assert(sortedRows(atTs) === sortedRows(t.readAt(3L)))
    val iso = java.time.Instant.ofEpochMilli(tsOfV3).toString
    assert(spark.read.format("txlog").option("timestampAsOf", iso)
      .load(root).count() === 150L)
  }

  test("write path: all four SaveModes commit through the txlog protocol") {
    val root = Files.createTempDirectory("txsrcw").toString
    val t = new TxLogTable(spark, root)
    val a = df((1L to 5L).map(k => (k, s"g${k % 2}", k)): _*)

    a.write.format("txlog").option("statsCols", "k").save(root) // ErrorIfExists default
    assert(t.read().count() === 5L)
    intercept[IllegalStateException] {
      a.write.format("txlog").save(root)
    }
    a.write.format("txlog").mode(SaveMode.Ignore).save(root) // no-op
    assert(t.read().count() === 5L)
    df((6L to 8L).map(k => (k, "g9", k)): _*)
      .write.format("txlog").mode(SaveMode.Append)
      .option("statsCols", "k").save(root)
    assert(t.read().count() === 8L)
    assert(t.currentVersion === 2L)
    df(Seq((99L, "z", 0L)): _*)
      .write.format("txlog").mode(SaveMode.Overwrite).save(root)
    assert(sortedRows(t.read()) === Seq("[99,z,0]"))
    // stats written through the writer options actually skip
    assert(t.readAt(2L).filter(col("k") === 7L).count() === 1L)
    assert(t.scanPathsAt(2L, col("k") === 1L).size <
      t.scanPathsAt(2L, lit(true)).size)
  }

  test("sizeInBytes from live files lets a small snapshot auto-broadcast") {
    val (root, _) = seeded()
    val rel = spark.read.format("txlog").load(root)
    val base = rel.queryExecution.analyzed.stats.sizeInBytes
    assert(base > 0 && base < 10L * 1024 * 1024,
      s"tiny table should report its true few-KB size, got $base")
    val big = spark.range(0, 100000).withColumnRenamed("id", "k")
    val joined = big.join(rel, "k")
    assert(joined.count() === 200L)
    assert(joined.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      "a few-KB txlog side must broadcast, not shuffle")
  }

  test("writer append with a new column evolves the schema additively") {
    val root = Files.createTempDirectory("txevo").toString
    df((1L, "g0", 1L)).write.format("txlog").save(root)
    val wide = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(2L, "g1", 2L, "extra")),
      schema.add("note", org.apache.spark.sql.types.StringType))
    wide.write.format("txlog").mode(SaveMode.Append).save(root)
    val back = spark.read.format("txlog").load(root)
    assert(back.schema.fieldNames.toSeq === Seq("k", "grp", "v", "note"))
    val rows = back.orderBy("k").collect()
    assert(rows(0).isNullAt(3), "old rows read the new column as null")
    assert(rows(1).getString(3) === "extra")
    // time travel still serves the narrow schema at v1
    assert(spark.read.format("txlog").option("versionAsOf", "1")
      .load(root).schema.fieldNames.toSeq === Seq("k", "grp", "v"))
  }

  test("SQL DDL: CREATE TABLE ... USING txlog and time-travel view") {
    val (root, t) = seeded()
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW txsrc_sql " +
      s"USING txlog OPTIONS (path '$root')")
    val viaSql = spark.sql(
      "SELECT grp, count(*) AS n FROM txsrc_sql WHERE k < 100 GROUP BY grp")
    assert(sortedRows(viaSql) ===
      sortedRows(t.read().filter(col("k") < 100L)
        .groupBy(col("grp")).agg(count(lit(1)).as("n"))))

    // SQL INSERT INTO commits through the version protocol
    val vBefore = t.currentVersion
    spark.sql("INSERT INTO txsrc_sql VALUES (9999, 'sqlrow', 1)")
    assert(t.currentVersion === vBefore + 1)
    assert(t.read().filter(col("k") === 9999L).count() === 1L)
    spark.sql("DROP VIEW txsrc_sql")
  }

  test("a user read schema is honored iff identical; mismatch throws") {
    val (root, t) = seeded()
    // identical schema (modulo nullability) reads fine
    val same = spark.read.schema(TxLogV2.asNullable(t.schemaAt(
      t.currentVersion))).format("txlog").load(root)
    assert(same.count() === t.read().count())
    // a different schema must FAIL LOUDLY, never be silently dropped
    val wrong = StructType(Seq(StructField("k", LongType)))
    val err = intercept[Exception] {
      spark.read.schema(wrong).format("txlog").load(root).collect()
    }
    assert(err.getMessage.contains("does not match"), err.getMessage)
    // ...while an evolved WRITE schema stays legal (the write path
    // hands its df schema to getTable too — must not trip the check)
    val wide = spark.createDataFrame(
      java.util.Arrays.asList(Row(7777L, "g0", 1L, "x")),
      schema.add("note", StringType))
    wide.write.format("txlog").mode(SaveMode.Append).save(root)
    assert(spark.read.format("txlog").load(root)
      .filter(col("k") === 7777L).count() === 1L)
  }

  test("production scans skip the diagnostic denominator walk") {
    val (root, _) = seeded()
    val prev = TxLogV2.captureScans
    try {
      TxLogV2.captureScans = false
      // the V2 scan, then the V1 relation
      Seq(None, Some("txlog")).foreach { v1 =>
        v1.foreach(spark.conf.set("spark.sql.sources.useV1SourceList", _))
        TxLogV2.lastScan = (0, 0)
        try {
          val n = spark.read.format("txlog").load(root)
            .filter(col("k") >= 100L && col("k") < 150L).count()
          assert(n === 50L)
        } finally spark.conf.unset("spark.sql.sources.useV1SourceList")
        val (scanned, live) = TxLogV2.lastScan
        assert(scanned === 1, s"pruning itself must still run, got $scanned")
        assert(live === -1,
          s"denominator walk must be test-gated, got $live")
      }
    } finally TxLogV2.captureScans = prev
  }

  /** A parquet-backed key dim behind a selective filter: dynamic
    * pruning reaches a scan only from a filtered, non-local side.
    */
  private def keyDim(ks: Long*): DataFrame = {
    import spark.implicits._
    val dir = Files.createTempDirectory("txsrc_dim").resolve("d").toString
    ks.map(k => (k, s"d$k")).toDF("dk", "tag").write.parquet(dir)
    spark.read.parquet(dir).filter(col("dk") >= 0L)
  }

  test("read plans: Spark jobs and planned files of every txlog scan shape") {
    /** (jobs, lastScan) of one read, the hook reset first. */
    def pin(read: => Any): (Int, (Int, Int)) = {
      TxLogV2.lastScan = (0, 0)
      (jobsStartedBy { read; () }, TxLogV2.lastScan)
    }
    val (root, _) = seeded() // 4 files x 50 rows, stats on k
    def load(r: String) = spark.read.format("txlog").load(r)
    val plain = pin(assert(load(root).collect().length === 200))
    val filtered = pin(assert(load(root)
      .filter(col("k") >= 100L && col("k") < 150L).collect().length === 50))
    val limited = pin(assert(load(root).limit(10).collect().length === 10))
    val ungrouped = pin(assert(load(root)
      .agg(count(lit(1)), min(col("k")), max(col("k"))).collect().head ===
      Row(200L, 0L, 349L)))
    val emptyRoot = Files.createTempDirectory("txsrc_empty").toString
    new TxLogTable(spark, emptyRoot).ensureExists(schema)
    val emptyCount = pin(assert(
      load(emptyRoot).agg(count(lit(1))).collect().head === Row(0L)))

    // v is constant in each file: the grouped census folds it
    val groupedRoot = Files.createTempDirectory("txsrc_grp").toString
    val g = new TxLogTable(spark, groupedRoot)
    g.ensureExists(schema)
    (0L until 3L).foreach { b =>
      g.append(df((0L until 20L).map(i => (b * 100L + i, "g", b)): _*)
        .coalesce(1), statsCols = Seq("k", "v"))
    }
    val grouped = pin(assert(load(groupedRoot).groupBy(col("v"))
      .agg(count(lit(1)), max(col("k"))).collect().length === 3))

    // a stats-less append is the one straggler of the hybrid census
    val (hybridRoot, h) = seeded()
    h.append(df((999L, "g0", 1L)).coalesce(1))
    val hybrid = pin(assert(load(hybridRoot)
      .agg(count(lit(1)), min(col("k")), max(col("k"))).collect().head ===
      Row(201L, 0L, 999L)))

    val (dvRoot, d) = seeded()
    d.deleteVectored(col("k") % 100L === 5L) // one row in each file
    val smallDv = pin(assert(load(dvRoot).collect().length === 196))
    TxLogV2.lastRuntimeFiltered = false
    val fact = load(dvRoot)
    val joined = pin(assert(fact.join(keyDim(7L, 307L), fact("k") === col("dk"))
      .select(col("k")).collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(7L, 307L)))
    assert(TxLogV2.lastRuntimeFiltered)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val bulkDv = try pin(assert(
      load(dvRoot).filter(col("k") >= 100L).count() === 147L))
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    // (0, 0): the read planned no file scan (a LocalTableScan)
    assert(Seq(plain, filtered, limited, ungrouped, emptyCount, grouped,
      hybrid, smallDv, joined, bulkDv) === Seq(
      (1, (4, 4)), (1, (1, 4)), (1, (1, 4)), (1, (0, 0)), (1, (0, 0)),
      (1, (0, 0)), (2, (1, 5)), (2, (4, 4)), (5, (2, 4)), (4, (3, 4))))
  }
}
