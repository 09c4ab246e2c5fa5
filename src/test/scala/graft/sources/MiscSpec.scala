package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Metrics, ScrapeParse}
import graft.orchestration.JobRegistry

/** Small parity pieces: S14 format convert, F7 URL normalization,
  * W8 registry, A3 observe metrics.
  */
class MiscSpec extends SparkSpec {
  import spark.implicits._

  test("jsonToCsv round-trips rows (S14)") {
    val work = Files.createTempDirectory("fmt").toString
    Seq("""{"a":1,"b":"x"}""", """{"a":2,"b":"y"}""").toDF("value")
      .coalesce(1).write.text(s"$work/in")
    FormatConvert.jsonToCsv(spark, s"$work/in", s"$work/out")
    val back = spark.read.option("header", "true").csv(s"$work/out")
    assert(back.select("a", "b").collect().map(r => (r.getString(0), r.getString(1)))
      .toSet == Set(("1", "x"), ("2", "y")))
  }

  test("avro: parquet → avro → parquet round-trip RUNS (module or bridge)") {
    // FormatConvert dispatches: spark-avro when shipped, the AvroTables
    // bridge (plain Avro Java library) otherwise — so this round-trip
    // executes in every environment, this zero-egress sandbox included
    val work = Files.createTempDirectory("avro").toString
    FormatConvert.parquetToAvro(spark, s"$sf0001/documents.parquet", s"$work/av")
    // the intermediate really is Avro container files
    val avFiles = new java.io.File(s"$work/av").listFiles()
      .filter(_.getName.endsWith(".avro"))
    assert(avFiles.nonEmpty)
    val magic = new Array[Byte](4)
    val in = new java.io.FileInputStream(avFiles.head)
    try in.read(magic) finally in.close()
    assert(magic.toSeq == Seq('O'.toByte, 'b'.toByte, 'j'.toByte, 1.toByte))
    FormatConvert.avroToParquet(spark, s"$work/av", s"$work/pq")
    val src = spark.read.parquet(s"$sf0001/documents.parquet")
    val back = spark.read.parquet(s"$work/pq")
    assert(back.schema == src.schema)
    assert(back.exceptAll(src).count() == 0 && src.exceptAll(back).count() == 0)
  }

  test("avro bridge: nulls, binary, empty frame, unsupported type fails fast") {
    val work = Files.createTempDirectory("avrobridge").toString
    val df = Seq(
      (1L, Option("alpha"), Array[Byte](1, 2, 3), 1.5, true),
      (2L, None, Array.empty[Byte], -0.25, false))
      .toDF("id", "name", "blob", "score", "flag")
    AvroTables.write(df, s"$work/t")
    val back = AvroTables.read(spark, s"$work/t")
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    val rows = back.collect().map(r =>
      (r.getLong(0), Option(r.getString(1)),
        r.getAs[Array[Byte]](2).toSeq, r.getDouble(3), r.getBoolean(4))).toSet
    assert(rows == Set(
      (1L, Some("alpha"), Seq[Byte](1, 2, 3), 1.5, true),
      (2L, None, Seq.empty[Byte], -0.25, false)))
    // empty frame still round-trips its schema (partition-0 file)
    AvroTables.write(df.limit(0), s"$work/empty")
    val emptyBack = AvroTables.read(spark, s"$work/empty")
    assert(emptyBack.count() == 0 && emptyBack.schema.length == 5)
    // unsupported types still name the field instead of corrupting it
    val e = intercept[IllegalArgumentException] {
      AvroTables.write(Seq(Tuple1(1.toShort)).toDF("d"), s"$work/bad")
    }
    assert(e.getMessage.contains("'d'"))
  }

  test("avro bridge: decimal/date/timestamp logical types round-trip exactly") {
    val work = Files.createTempDirectory("avrological").toString
    // negative decimal and pre-epoch instants on purpose: they exercise
    // the two's-complement unscaled-bytes path and floorDiv micros
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, CAST('12345.67' AS DECIMAL(12,2)), DATE'2020-01-02',
        |   TIMESTAMP'2020-01-02 03:04:05.123456'),
        |  (2L, CAST('-0.01' AS DECIMAL(12,2)), DATE'1969-12-31',
        |   TIMESTAMP'1969-12-31 23:59:59.000001'),
        |  (3L, CAST(NULL AS DECIMAL(12,2)), CAST(NULL AS DATE),
        |   CAST(NULL AS TIMESTAMP))
        |AS t(id, amt, d, ts)""".stripMargin)
    AvroTables.write(df, s"$work/t")
    val back = AvroTables.read(spark, s"$work/t")
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.exceptAll(df).count() == 0 &&
      df.exceptAll(back).count() == 0)
    // the written schema carries the spec's logical-type annotations
    // (interop: spark-avro and any other reader sees the same types)
    val json = AvroTables.toAvroSchema(df.schema).toString
    assert(json.contains("\"logicalType\":\"decimal\"") &&
      json.contains("\"logicalType\":\"date\"") &&
      json.contains("\"logicalType\":\"timestamp-micros\""))
    // a logical type we DON'T map still fails fast on read
    val bad = org.apache.avro.SchemaBuilder.record("r").fields()
      .name("t").`type`(org.apache.avro.LogicalTypes.timeMillis()
        .addToSchema(org.apache.avro.Schema.create(
          org.apache.avro.Schema.Type.INT))).noDefault().endRecord()
    val e = intercept[IllegalArgumentException] {
      AvroTables.toSparkSchema(bad)
    }
    assert(e.getMessage.contains("time-millis"))
  }

  test("avro bridge: nested structs, arrays, and maps round-trip exactly") {
    val work = Files.createTempDirectory("avronested").toString
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, named_struct('city', 'leeds', 'zip', 7,
        |     'geo', named_struct('lat', 1.5D, 'lon', -0.25D)),
        |   array(1, 2, 3), map('a', 10L, 'b', 20L),
        |   array(named_struct('k', 'x', 'v', 1L))),
        |  (2L, named_struct('city', CAST(NULL AS STRING), 'zip', 9,
        |     'geo', named_struct('lat', 0D, 'lon', 0D)),
        |   array(CAST(NULL AS INT), 4), map('c', CAST(NULL AS BIGINT)),
        |   array())
        |AS t(id, address, nums, tags, kvs)""".stripMargin)
    AvroTables.write(df, s"$work/t")
    val back = AvroTables.read(spark, s"$work/t")
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    // exact value round-trip at every nesting level (struct-in-struct,
    // null leaf inside a struct, null array element, null map value,
    // array of structs, empty array). Spark refuses set ops on MAP
    // columns, so canonicalize collected rows instead.
    def canon(d: org.apache.spark.sql.DataFrame): Set[String] =
      d.collect().map { r =>
        def v(x: Any): String = x match {
          case m: scala.collection.Map[_, _] =>
            m.toSeq.map { case (k, x2) => s"$k=${v(x2)}" }.sorted.mkString("{", ",", "}")
          case s: scala.collection.Seq[_] => s.map(v).mkString("[", ",", "]")
          case row: org.apache.spark.sql.Row => row.toSeq.map(v).mkString("(", ",", ")")
          case other => String.valueOf(other)
        }
        r.toSeq.map(v).mkString("|")
      }.toSet
    assert(canon(back) === canon(df))
    // non-string map keys still fail fast with the field path
    val e = intercept[IllegalArgumentException] {
      AvroTables.write(
        spark.sql("SELECT map(1, 'x') AS m"), s"$work/bad")
    }
    assert(e.getMessage.contains("'m'"))
  }

  test("parquet ↔ ORC conversion preserves rows and schema") {
    val work = Files.createTempDirectory("orc").toString
    val src = spark.read.parquet(s"$sf0001/documents.parquet")
    FormatConvert.parquetToOrc(spark, s"$sf0001/documents.parquet", s"$work/orc")
    FormatConvert.orcToParquet(spark, s"$work/orc", s"$work/pq")
    val back = spark.read.parquet(s"$work/pq")
    assert(back.schema == src.schema)
    assert(back.exceptAll(src).count() == 0 && src.exceptAll(back).count() == 0)
  }

  test("normalizeUrl prefixes relative hrefs only (F7)") {
    val out = Seq("/properties/1", "https://x.com/p/2").toDF("href")
      .select(ScrapeParse.normalizeUrl($"href", "https://host").as("u"))
      .as[String].collect().toSet
    assert(out == Set("https://host/properties/1", "https://x.com/p/2"))
  }

  test("registry resolves builtin DAGs by dag_id (W8)") {
    JobRegistry.registerBuiltins()
    assert(JobRegistry.names.contains("monthly_price_paid_data"))
    val tasks = JobRegistry.get("monthly_price_paid_data").get(
      Map("csv_path" -> "/tmp/x.csv", "table_root" -> "/tmp/t"))
    assert(tasks.map(_.id).contains("load_csv_to_table"))
  }

  test("observe metrics surface counts (A3)") {
    val df = Metrics.observeRows(
      Seq((1L, "a"), (2L, null)).toDF("id", "k"), "clean_in", "k")
    df.collect()
    val m = df.queryExecution.observedMetrics("clean_in")
    assert(m.getAs[Long]("n_rows") == 2L && m.getAs[Long]("n_null_keys") == 1L)
  }
}
