package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sources.TxLogTable

/** SQL DML + time travel over the txlog table: the parser extension
  * routes MERGE INTO / UPDATE / DELETE / VERSION AS OF statements on
  * `txlog.`path`` targets to the oracled TxLogTable primitives. The
  * production seam (a session built `.withExtensions`, plain
  * `spark.sql(...)`) and the extension-less helper ([[GraftSql.sql]])
  * share the same rewrite — both are pinned here, including result
  * equality against the Scala-API calls they route to.
  */
class GraftSqlDmlSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", StringType, nullable = true),
    StructField("n", LongType, nullable = true)))

  private def df(rows: (Long, String, java.lang.Long)*) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map { case (k, v, n) => Row(k, v, n) }.asJava, schema)
  }

  private def L(x: Long): java.lang.Long = java.lang.Long.valueOf(x)

  private def seed(prefix: String): (String, TxLogTable) = {
    val root = Files.createTempDirectory(prefix).toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(schema)
    t.append(df((1L, "a", L(10)), (2L, "b", L(20)), (3L, "c", L(30))))
    (root, t)
  }

  test("UPDATE and DELETE statements route to the transactional DML") {
    val (root, t) = seed("sqldml_ud")
    GraftSql.sql(spark,
      s"UPDATE txlog.`$root` SET n = n * 2, v = upper(v) WHERE k <= 2")
      .collect()
    GraftSql.sql(spark, s"DELETE FROM txlog.`$root` WHERE n = 40").collect()
    val got = t.read().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, "A", 20L), (3L, "c", 30L)))
    // WHERE-less forms touch every row (SQL semantics)
    GraftSql.sql(spark, s"UPDATE txlog.`$root` SET n = 0").collect()
    assert(t.read().filter(col("n") =!= 0L).isEmpty)
    GraftSql.sql(spark, s"DELETE FROM txlog.`$root`").collect()
    assert(t.read().isEmpty)
  }

  test("MERGE INTO with ordered clauses matches the Scala-API merge") {
    val (root, t) = seed("sqldml_merge")
    val (root2, t2) = seed("sqldml_merge_api")
    df((2L, "B2", L(99)), (3L, "C2", L(5)), (4L, "D2", L(44)),
      (5L, "E2", null))
      .createOrReplaceTempView("updates_sqldml")
    // delete high-n matches, update the rest; insert only non-null n
    GraftSql.sql(spark,
      s"""MERGE INTO txlog.`$root` AS tgt USING updates_sqldml AS src
         |ON tgt.k = src.k
         |WHEN MATCHED AND src.n > 50 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED AND src.n IS NOT NULL THEN INSERT *
         |""".stripMargin).collect()
    t2.mergeConditional(spark.table("updates_sqldml"), Seq("k"),
      whenMatched = Seq(
        TxLogTable.MatchedDelete(Some("s.n > 50")),
        TxLogTable.MatchedUpdate(None)),
      notMatchedCondition = Some("s.n IS NOT NULL"))
    val sqlGot = t.read().orderBy("k").collect().toSeq
    val apiGot = t2.read().orderBy("k").collect().toSeq
    assert(sqlGot == apiGot)
    assert(sqlGot.map(_.getLong(0)) == Seq(1L, 3L, 4L)) // k=2 deleted, k=5 null-gated
    assert(sqlGot.find(_.getLong(0) == 3L).get.getString(1) == "C2")
  }

  test("VERSION AS OF and TIMESTAMP AS OF read exact snapshots in SELECT") {
    val (root, t) = seed("sqldml_tt")
    val v1 = t.currentVersion
    val ts1 = t.history().find(_._1 == v1).get._3
    while (System.currentTimeMillis() <= ts1) Thread.sleep(1)
    t.append(df((9L, "z", L(90))))
    t.delete(col("k") === 1L)
    // current state differs from v1 in both directions
    val byVer = GraftSql.sql(spark,
      s"SELECT k, v, n FROM txlog.`$root` VERSION AS OF $v1 ORDER BY k")
      .collect().toSeq
    assert(byVer.map(_.getLong(0)) == Seq(1L, 2L, 3L))
    val byTs = GraftSql.sql(spark,
      s"SELECT count(*) AS c FROM txlog.`$root` TIMESTAMP AS OF '" +
        java.time.Instant.ofEpochMilli(ts1).toString + "'")
      .collect().head.getLong(0)
    assert(byTs == 3L)
    // time travel composes inside a bigger statement (join + agg)
    val joined = GraftSql.sql(spark,
      s"""SELECT cur.k FROM txlog.`$root` cur
         |LEFT ANTI JOIN txlog.`$root` VERSION AS OF $v1 old
         |ON cur.k = old.k""".stripMargin).collect().map(_.getLong(0)).toSeq
    assert(joined == Seq(9L))
  }

  test("production seam: spark.sql on a withExtensions session") {
    val root = Files.createTempDirectory("sqldml_ext").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(schema)
    t.append(df((1L, "a", L(10)), (2L, "b", L(20))))
    val v1 = t.currentVersion
    spark.sql(s"UPDATE txlog.`$root` SET n = n + 1 WHERE k = 1").collect()
    spark.sql(s"DELETE FROM txlog.`$root` WHERE k = 2").collect()
    df((1L, "A", L(100)), (7L, "g", L(70))).createOrReplaceTempView("ext_updates")
    val ver = spark.sql(
      s"""MERGE INTO txlog.`$root` t USING ext_updates s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .collect().head.getLong(0)
    assert(ver == t.currentVersion)
    val cur = t.read().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(cur == Seq((1L, "A", 100L), (7L, "g", 70L)))
    // time travel through plain spark.sql too
    assert(spark.sql(
      s"SELECT * FROM txlog.`$root` VERSION AS OF $v1").count() == 2)
    // and non-txlog SQL is untouched by the injected parser
    assert(spark.sql("SELECT 1 + 1 AS two").collect().head.getInt(0) == 2)
  }

  test("maintenance statements: DESCRIBE HISTORY, OPTIMIZE, VACUUM") {
    val (root, t) = seed("sqldml_maint")
    t.append(df((9L, "z", L(90))))
    // history: create + 2 appends, newest first
    val hist = GraftSql.sql(spark, s"DESCRIBE HISTORY txlog.`$root`")
      .collect()
    assert(hist.length == 3)
    assert(hist.head.getLong(0) == 2L && hist.last.getLong(0) == 0L)
    assert(hist.map(_.getString(1)).toSeq ==
      Seq("append", "append", "overwrite"))
    // OPTIMIZE: one overwrite commit, values invisible
    val before = t.read().orderBy("k").collect().toSeq
    val ver = GraftSql.sql(spark,
      s"OPTIMIZE txlog.`$root` INTO 2 FILES").collect().head.getLong(0)
    assert(ver == t.currentVersion)
    assert(t.read().orderBy("k").collect().toSeq == before)
    // VACUUM FULL collects the two pre-optimize append dirs
    // without RETAIN 0 the age guard protects the young dirs
    assert(GraftSql.sql(spark, s"VACUUM txlog.`$root` FULL").count() == 0)
    // DRY RUN pre-flight: the exact removal list, storage untouched
    val planned = GraftSql.sql(spark,
      s"VACUUM txlog.`$root` FULL RETAIN 0 HOURS DRY RUN")
      .collect().map(_.getString(0)).toSeq
    assert(planned.size == 2, s"planned=$planned")
    assert(t.read().orderBy("k").collect().toSeq == before)
    assert(t.readAt(1L).count() >= 1L,
      "DRY RUN must leave historical dirs readable")
    val removed = GraftSql.sql(spark,
      s"VACUUM txlog.`$root` FULL RETAIN 0 HOURS")
      .collect().map(_.getString(0)).toSeq
    assert(removed == planned,
      s"the real vacuum must remove exactly the DRY RUN list: " +
        s"$removed vs $planned")
    assert(t.read().orderBy("k").collect().toSeq == before)
    // ZORDER arm requires numeric cluster columns and records stats
    GraftSql.sql(spark,
      s"OPTIMIZE txlog.`$root` ZORDER BY (k) INTO 2 FILES").collect()
    assert(t.read().orderBy("k").collect().toSeq == before)
    // DESCRIBE DETAIL: the snapshot summary row — post-zorder the live
    // set is 2 stat-carrying files, exact rows known, base protocol
    val detail = GraftSql.sql(spark, s"DESCRIBE DETAIL txlog.`$root`")
      .collect().head
    assert(detail.getLong(0) == t.currentVersion)
    assert(detail.getLong(1) == 2L, s"num_files=${detail.getLong(1)}")
    assert(detail.getLong(2) > 0L)
    assert(detail.getLong(3) == 4L, s"num_rows=${detail.get(3)}")
    assert(detail.getInt(4) == 1)
    // and the statements also run through the injected-parser seam
    assert(spark.sql(s"DESCRIBE HISTORY txlog.`$root`").count() >= 5)
  }

  test("DML and time travel work on NAMED catalog tables (USING txlog)") {
    val (root, t) = seed("sqldml_cat")
    spark.sql("DROP TABLE IF EXISTS sqldml_cat_t")
    spark.sql(s"CREATE TABLE sqldml_cat_t USING txlog OPTIONS (path '$root')")
    try {
      val v1 = t.currentVersion
      GraftSql.sql(spark,
        "UPDATE sqldml_cat_t SET n = n + 100 WHERE k = 1").collect()
      GraftSql.sql(spark, "DELETE FROM sqldml_cat_t WHERE k = 3").collect()
      df((2L, "B", L(999)), (8L, "h", L(80)))
        .createOrReplaceTempView("cat_updates")
      GraftSql.sql(spark,
        """MERGE INTO sqldml_cat_t t USING cat_updates s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      val got = t.read().orderBy("k").collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSeq
      assert(got == Seq((1L, 110L), (2L, 999L), (8L, 80L)))
      // time travel by NAME
      assert(GraftSql.sql(spark,
        s"SELECT * FROM sqldml_cat_t VERSION AS OF $v1").count() == 3)
      // a temp view with the same name shadows the catalog table:
      // DML on the shadowed name must NOT touch the txlog table
      df((42L, "x", L(0))).createOrReplaceTempView("sqldml_cat_shadow")
      spark.sql("DROP TABLE IF EXISTS sqldml_cat_shadow")
      intercept[Exception](GraftSql.sql(spark,
        "DELETE FROM sqldml_cat_shadow WHERE k = 42").collect())
      assert(t.read().count() == 3)
    } finally spark.sql("DROP TABLE IF EXISTS sqldml_cat_t")
  }

  test("Sessions.local ships the SQL surface by default") {
    val root = Files.createTempDirectory("sqldml_sessions").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(schema)
    t.append(df((1L, "a", L(1))))
    // parser injected: maintenance + DML statements just work
    assert(spark.sql(s"DESCRIBE HISTORY txlog.`$root`").count() == 2)
    spark.sql(s"UPDATE txlog.`$root` SET n = 7 WHERE k = 1").collect()
    assert(t.read().collect().head.getLong(2) == 7L)
    // functions injected too
    assert(spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) d")
      .collect().head.getDouble(0) == 11.0)
  }

  test("a genuine database named txlog resolves through the delegate") {
    spark.sql("CREATE DATABASE IF NOT EXISTS txlog")
    try {
      spark.sql("DROP TABLE IF EXISTS txlog.realtab")
      spark.sql("CREATE TABLE txlog.realtab (k BIGINT, v STRING) USING parquet")
      spark.sql("INSERT INTO txlog.realtab VALUES (1, 'plain'), (2, 'spark')")
      // SELECT on the real catalog table must NOT be hijacked into a
      // path-table read (the old behavior failed with "txlog table
      // does not exist at realtab")
      val got = GraftSql.sql(spark,
        "SELECT v FROM txlog.realtab ORDER BY k")
        .collect().map(_.getString(0)).toSeq
      assert(got == Seq("plain", "spark"))
      // and DELETE on it follows Spark's own path (parquet tables
      // reject DML — the correct delegate behavior, not txlog routing)
      intercept[Exception](GraftSql.sql(spark,
        "DELETE FROM txlog.realtab WHERE k = 1").collect())
      assert(spark.table("txlog.realtab").count() == 2)
      // path-shaped identifiers still route to path tables even while
      // the txlog database exists
      val (root, t) = seed("sqldml_dbcoexist")
      GraftSql.sql(spark,
        s"UPDATE txlog.`$root` SET n = 0 WHERE k = 1").collect()
      assert(t.read().filter(col("k") === 1L)
        .collect().head.getLong(2) == 0L)
      // a txlog-PROVIDER table living inside the txlog database gets
      // its DML routed by catalog resolution, like any named table
      val (root2, t2) = seed("sqldml_dbtx")
      spark.sql("DROP TABLE IF EXISTS txlog.owntab")
      spark.sql(
        s"CREATE TABLE txlog.owntab USING txlog OPTIONS (path '$root2')")
      GraftSql.sql(spark,
        "DELETE FROM txlog.owntab WHERE k = 2").collect()
      assert(t2.read().count() == 2)
      spark.sql("DROP TABLE IF EXISTS txlog.owntab")
      spark.sql("DROP TABLE IF EXISTS txlog.realtab")
    } finally spark.sql("DROP DATABASE IF EXISTS txlog CASCADE")
  }

  test("INSERT conformance honors spark.sql.storeAssignmentPolicy") {
    val intSchema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("small", IntegerType, nullable = true)))
    val root = Files.createTempDirectory("sqldml_ansi").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(intSchema)
    // ANSI (the default): an out-of-range value must FAIL the INSERT,
    // not silently wrap (the native store-assignment behavior)
    spark.conf.set("spark.sql.storeAssignmentPolicy", "ANSI")
    try {
      val e = intercept[Exception](GraftSql.sql(spark,
        s"INSERT INTO txlog.`$root` SELECT 1L, 3000000000L").collect())
      def chain(x: Throwable): Seq[Throwable] =
        if (x == null) Nil else x +: chain(x.getCause)
      assert(chain(e).exists(c =>
        Option(c.getMessage).exists(m =>
          m.contains("CAST_OVERFLOW") || m.contains("overflow"))),
        s"expected an ANSI overflow failure, got: ${e.getMessage}")
      assert(t.read().isEmpty, "a failed INSERT must commit nothing")
      // in-range values insert fine under ANSI
      GraftSql.sql(spark,
        s"INSERT INTO txlog.`$root` SELECT 2L, 42L").collect()
      assert(t.read().collect().map(_.getInt(1)).toSeq == Seq(42))
      // LEGACY: the permissive cast wraps (pre-3.0 behavior, opt-in)
      spark.conf.set("spark.sql.storeAssignmentPolicy", "LEGACY")
      GraftSql.sql(spark,
        s"INSERT INTO txlog.`$root` SELECT 3L, 3000000000L").collect()
      val wrapped = t.read().filter(col("k") === 3L)
        .collect().head.getInt(1)
      assert(wrapped == 3000000000L.toInt) // wrapped, not failed
      // STRICT: the lossy long→int cast is rejected at planning
      spark.conf.set("spark.sql.storeAssignmentPolicy", "STRICT")
      intercept[Exception](GraftSql.sql(spark,
        s"INSERT INTO txlog.`$root` SELECT 4L, 1L").collect())
    } finally spark.conf.unset("spark.sql.storeAssignmentPolicy")
    // duplicate source column names conform positionally (attribute
    // refs, not name lookups — `src.col("`x`")` used to throw here)
    GraftSql.sql(spark,
      s"INSERT INTO txlog.`$root` SELECT 9L AS x, 7 AS x").collect()
    assert(t.read().filter(col("k") === 9L).collect().head.getInt(1) == 7)
  }

  test("unsupported MERGE shapes fail loudly, not approximately") {
    val (root, _) = seed("sqldml_unsupported")
    df((2L, "x", L(1))).createOrReplaceTempView("u_sqldml")
    def bad(sql: String, needle: String): Unit = {
      val e = intercept[UnsupportedOperationException](
        GraftSql.sql(spark, sql).collect())
      assert(e.getMessage.contains(needle), e.getMessage)
    }
    bad(
      s"""MERGE INTO txlog.`$root` t USING u_sqldml s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET n = s.n""".stripMargin,
      "UPDATE SET *")
    bad(
      s"""MERGE INTO txlog.`$root` t USING u_sqldml s ON t.k < s.k
         |WHEN MATCHED THEN DELETE""".stripMargin,
      "conjunction")
    bad(
      s"""MERGE INTO txlog.`$root` t USING u_sqldml s ON t.k = s.k
         |WHEN MATCHED THEN DELETE
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin,
      "NOT MATCHED BY SOURCE")
  }
}
