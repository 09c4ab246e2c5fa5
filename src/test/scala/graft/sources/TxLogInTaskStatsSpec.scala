package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import graft.SparkSpec

/** The skipping stats a commit records are folded by its staging tasks
  * while they write. Pinned here: on seeded random batches they are
  * bit-equal to the census scan of the staged files
  * ([[TxLogOracles.censusStats]]) — nulls, NaN and signed zeros,
  * Bloom and theta columns, low-cardinality columns and one with more
  * distinct values than the fold's per-file memo holds, multi-file
  * dirs, column-mapped physical names, commits on a table with
  * deletion vectors, and the native V2 write of a catalog table.
  */
class TxLogInTaskStatsSpec extends SparkSpec {
  private implicit val fmts: Formats = DefaultFormats

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("i", IntegerType),
    StructField("d", DoubleType),
    StructField("f", FloatType),
    StructField("s", StringType),
    StructField("dt", DateType),
    StructField("ts", TimestampType),
    StructField("dec", DecimalType(10, 2)),
    StructField("b", BooleanType)))
  private val statsCols = schema.fieldNames.toSeq
  private val bloomCols = Seq("id", "i", "s")

  private def batch(seed: Long, n: Int, idFrom: Long = 0L): DataFrame = {
    val r = new Random(seed)
    def maybe[A](a: => A): Any = if (r.nextInt(5) == 0) null else a
    val specials = Seq(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinPositiveValue)
    val rows = (0 until n).map { k =>
      Row(idFrom + r.nextInt(n * 4).toLong,
        maybe(r.nextInt(2001) - 1000),
        maybe(if (r.nextInt(4) == 0) specials(r.nextInt(specials.size))
          else r.nextGaussian() * 100),
        maybe(if (r.nextInt(6) == 0) Float.NaN else r.nextFloat() - 0.5f),
        maybe(Seq("", "ä", "zz", "Ωmega", "a\u0000b", "𝔘nicode")(r.nextInt(6)) +
          r.alphanumeric.take(r.nextInt(4)).mkString),
        maybe(java.sql.Date.valueOf(java.time.LocalDate.of(1990, 1, 1)
          .plusDays(r.nextInt(20000).toLong - 5000L))),
        maybe(new java.sql.Timestamp(r.nextLong() % 4000000000000L)),
        maybe(java.math.BigDecimal.valueOf(r.nextLong() % 10000000L, 2)),
        maybe(r.nextBoolean()))
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  private def manifest(root: String, v: Long): TxLogTable.Manifest =
    Serialization.read[TxLogTable.Manifest](new String(
      Files.readAllBytes(Paths.get(root, "_log", f"$v%020d.json")),
      StandardCharsets.UTF_8))

  /** Version `v`'s stats for the files of `dir`, next to the census of
    * that dir; both keyed "dir/part-file".
    */
  private def statsAndCensus(t: TxLogTable, v: Long, dir: String,
      stats: Seq[String], blooms: Seq[String])
      : (Map[String, DataSkipping.FileStats],
        Map[String, DataSkipping.FileStats]) = {
    val m = manifest(t.root, v)
    val cmap = m.colMap.getOrElse(Map.empty)
    val logical = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    val phys = StructType(logical.fields.map(f =>
      f.copy(name = cmap.getOrElse(f.name, f.name))))
    val recorded = m.stats.getOrElse(Map.empty)
      .filter(_._1.startsWith(dir + "/"))
    (recorded, TxLogOracles.censusStats(spark, t, dir, phys,
      stats.map(c => cmap.getOrElse(c, c)),
      blooms.map(c => cmap.getOrElse(c, c))))
  }

  private def assertExact(t: TxLogTable, v: Long, dir: String,
      stats: Seq[String], blooms: Seq[String] = Nil,
      minFiles: Int = 1): Unit = {
    val (recorded, census) = statsAndCensus(t, v, dir, stats, blooms)
    assert(recorded.size >= minFiles,
      s"expected >= $minFiles files with stats in $dir, got ${recorded.keys}")
    assert(recorded === census)
  }

  private def fresh(name: String): TxLogTable = {
    val t = new TxLogTable(spark,
      Files.createTempDirectory(s"txstats_$name").toString)
    t.ensureExists(schema)
    t
  }

  test("appended multi-file batches: stats equal the census (seeded)") {
    for (seed <- 1L to 4L) {
      val t = fresh(s"append$seed")
      val v = t.append(batch(seed, 400).repartition(3),
        statsCols = statsCols, bloomCols = bloomCols)
      val dir = manifest(t.root, v).add.head
      assertExact(t, v, dir, statsCols, bloomCols, minFiles = 3)
      val st = manifest(t.root, v).stats.get.values
      assert(st.forall(fs => fs.blooms.keySet == bloomCols.toSet &&
        fs.thetas.keySet == statsCols.toSet))
    }
  }

  test("low-cardinality columns, and a column past the per-file value " +
      "memo's bound: stats equal the census (seeded)") {
    for (seed <- 5L to 6L) {
      val r = new Random(seed)
      val ds = Seq(Double.NaN, -0.0, 0.0, 1.5, -2.25, Double.PositiveInfinity)
      val fs = Seq(Float.NaN, -0.0f, 0.0f, 0.5f)
      val days = (0 until 7).map(k => java.sql.Date.valueOf(
        java.time.LocalDate.of(2020, 1, 1).plusDays(k.toLong * 40)))
      val times = (0 until 9).map(k =>
        new java.sql.Timestamp(1600000000000L + k * 3600123L))
      // more distinct ids in one file than the memo holds
      val n = FileStatsFold.MemoBound + 1500
      val rows = (0 until n).map { k =>
        def maybe[A](a: => A): Any = if (r.nextInt(7) == 0) null else a
        Row(k.toLong, maybe(r.nextInt(3)), maybe(ds(r.nextInt(ds.size))),
          maybe(fs(r.nextInt(fs.size))), maybe(Seq("x", "y")(r.nextInt(2))),
          maybe(days(r.nextInt(days.size))),
          maybe(times(r.nextInt(times.size))),
          maybe(java.math.BigDecimal.valueOf(r.nextInt(4).toLong, 2)),
          maybe(r.nextBoolean()))
      }
      val t = fresh(s"lowcard$seed")
      val v = t.append(spark.createDataFrame(rows.asJava, schema)
        .coalesce(1), statsCols = statsCols, bloomCols = bloomCols)
      assertExact(t, v, manifest(t.root, v).add.head, statsCols, bloomCols)
    }
  }

  test("merge, conditional merge, update and compaction on a table with " +
      "deletion vectors: stats equal the census") {
    val t = fresh("dv")
    t.append(batch(11L, 300).repartition(2), statsCols = statsCols,
      bloomCols = bloomCols)
    t.deleteVectored(col("i") < -500)
    val vu = t.updateVectored(col("i") > 800, Map("s" -> lit("updated")),
      statsCols = statsCols, bloomCols = bloomCols)
    assert(t.dvDirsAt(vu).nonEmpty)
    assertExact(t, vu, manifest(t.root, vu).add.last, statsCols, bloomCols)
    val precedence = Seq(col("d").desc_nulls_last, col("i").desc_nulls_last)
    val vm = t.merge(batch(12L, 200, idFrom = 600L).repartition(2),
      Seq("id"), precedence, statsCols = statsCols)
    assertExact(t, vm, manifest(t.root, vm).add.last, statsCols)
    val vc = t.mergeConditional(
      batch(13L, 150, idFrom = 900L).dropDuplicates("id"), Seq("id"),
      Seq(TxLogTable.MatchedDelete(Some("s.b")),
        TxLogTable.MatchedUpdate(None)), statsCols = statsCols)
    assertExact(t, vc, manifest(t.root, vc).add.last, statsCols)
    val vd = t.delete(col("d") > 50, statsCols = statsCols,
      bloomCols = bloomCols)
    assertExact(t, vd, manifest(t.root, vd).add.last, statsCols, bloomCols)
    val vz = t.compactClustered(Seq("dt"), 3, statsCols = statsCols)
    assertExact(t, vz, manifest(t.root, vz).add.head, statsCols, minFiles = 2)
  }

  test("column-mapped physical names: stats key the physical name and " +
      "equal the census") {
    val t = fresh("colmap")
    t.append(batch(21L, 100), statsCols = statsCols)
    t.renameColumn("s", "label")
    val renamed = statsCols.map(c => if (c == "s") "label" else c)
    val v = t.append(batch(22L, 200).withColumnRenamed("s", "label")
        .repartition(2), statsCols = renamed, bloomCols = Seq("label"))
    val m = manifest(t.root, v)
    assert(m.stats.get.values.forall(fs => fs.cols.contains("s") &&
      !fs.cols.contains("label") && fs.blooms.contains("s")))
    assertExact(t, v, m.add.head, renamed, Seq("label"), minFiles = 2)
  }

  test("native V2 writes of a catalog table: stats equal the census") {
    val root = Files.createTempDirectory("txstats_cat").toString
    spark.conf.set("spark.sql.catalog.statslake",
      classOf[TxLogCatalog].getName)
    spark.conf.set("spark.sql.catalog.statslake.root", root)
    spark.sql("CREATE NAMESPACE statslake.db")
    spark.sql("CREATE TABLE statslake.db.t (id BIGINT, i INT, d DOUBLE, " +
      "f FLOAT, s STRING, dt DATE, ts TIMESTAMP, dec DECIMAL(10,2), " +
      "b BOOLEAN) USING txlog")
    batch(31L, 300).repartition(3).writeTo("statslake.db.t")
      .option("statsCols", statsCols.mkString(","))
      .option("bloomCols", bloomCols.mkString(",")).append()
    val t = new TxLogTable(spark, s"$root/db/t")
    val v = t.currentVersion
    assertExact(t, v, manifest(t.root, v).add.head, statsCols, bloomCols,
      minFiles = 3)
    // INSERT INTO a PARTITIONED table: every eligible column by default
    spark.sql("CREATE TABLE statslake.db.p (id BIGINT, grp STRING, " +
      "d DOUBLE) USING txlog PARTITIONED BY (grp)")
    spark.sql("INSERT INTO statslake.db.p VALUES (1, 'a', 1.5), " +
      "(2, 'b', double('NaN')), (3, 'a', NULL), (4, 'c', -0.0)")
    val p = new TxLogTable(spark, s"$root/db/p")
    val vp = p.currentVersion
    assertExact(p, vp, manifest(p.root, vp).add.head,
      Seq("id", "grp", "d"), minFiles = 3)
  }
}
