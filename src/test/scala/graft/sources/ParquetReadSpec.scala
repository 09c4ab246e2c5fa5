package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.SparkThrowable

import graft.SparkSpec
import graft.core.{Schemas, Tables}
import graft.jobs.{PricePaidJobs, ScrapeJobs}
import graft.orchestration.TaskGraph

/** [[ParquetTable.readDir]] pinned against Spark's own inference: the
  * same schema for every table shape the engine reads, the same error
  * where there is nothing to read, and no Spark job to build a frame.
  */
class ParquetReadSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def assertSameSchema(path: String): Unit =
    assert(ParquetTable.readDir(spark, path).schema ==
      spark.read.parquet(path).schema, path)

  /** The engine's four job tables, written by the DAGs that own them. */
  private def jobTables(): Map[String, String] = {
    val work = tmp("readdir-jobs")
    val csv = Paths.get(work, "pp.csv")
    Files.write(csv, """"{AAA-1}","250000","2017-03-10 00:00","OX4 1AB","T","N","F","12","","COWLEY ROAD","","OXFORD","OXFORD","OXFORDSHIRE","A","A"""".getBytes("UTF-8"))
    val t = Map(
      "price_paid" -> s"$work/price_paid",
      "rightmove_areas" -> s"$work/areas",
      "sales_properties" -> s"$work/sales",
      "processed" -> s"$work/processed")
    Seq(("OX1", None: Option[Long], null: String, None: Option[Long]))
      .toDF("outcode", "area_id", "display_name", "last_updated_sale")
      .write.parquet(t("rightmove_areas"))
    Seq(("OX1", """<a href="/properties/123">a</a>""")).toDF("outcode", "html")
      .write.parquet(s"$work/pages")
    Seq(("OX1", """{"matches":[{"type":"OUTCODE","id":"7","displayName":"OX1"}]}"""))
      .toDF("outcode", "payload").write.parquet(s"$work/payloads")
    Seq(
      PricePaidJobs.initial(csv.toString, t("price_paid")),
      ScrapeJobs.pullNewSales(s"$work/pages", t("rightmove_areas"),
        t("sales_properties"), today = 20240610L),
      ScrapeJobs.processSales(t("sales_properties"), t("processed"),
        today = 20240611L),
      ScrapeJobs.outcodeEnrich(s"$work/payloads", t("rightmove_areas"))
    ).foreach(dag => assert(TaskGraph.run(dag, spark).succeeded))
    t
  }

  test("readDir schema equals inference: job tables after a DAG run") {
    jobTables().values.foreach { root =>
      assert(ParquetTable.readDir(spark, root).count() > 0, root)
      assertSameSchema(root)
    }
  }

  test("readDir schema equals inference: ensureExists table and appends") {
    val work = tmp("readdir-shapes")
    val empty = s"$work/empty"
    new ParquetTable(spark, empty).ensureExists(Schemas.salesProperties)
    assertSameSchema(empty)
    val appended = new ParquetTable(spark, s"$work/appended")
    appended.ensureExists(Schemas.rightmoveAreas)
    (1 to 3).foreach { i =>
      appended.insertIgnore(Seq((s"OX$i", Some(i.toLong), s"area $i", None: Option[Long]))
        .toDF("outcode", "area_id", "display_name", "last_updated_sale"), Seq("outcode"))
    }
    assert(appended.read().count() == 3)
    assertSameSchema(s"$work/appended")
  }

  test("readDir schema equals inference: every sf0.01 fixture table") {
    Tables.names.foreach(n => assertSameSchema(s"$sf001/$n.parquet"))
  }

  test("readDir schema equals inference: a TIMESTAMP(NANOS) file without Spark metadata") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val root = s"${tmp("readdir-nanos")}/events"
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,true)); required int64 id; }")
    val conf = spark.sparkContext.hadoopConfiguration
    val out = HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$root/part-0.parquet"), conf)
    val w = ExampleParquetWriter.builder(out).withType(schema).withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1700000000123456789L).append("id", 1L))
    finally w.close()
    assertSameSchema(root)
    // the session's nanosAsLong applies: the raw nanos arrive as a long
    val df = ParquetTable.readDir(spark, root)
    assert(df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    assert(df.select("ts").as[Long].collect().toSeq == Seq(1700000000123456789L))
  }

  test("FormatConvert's parquet reads give the plain reader's output and schema") {
    val work = tmp("readdir-convert")
    def sameOutput(read: String => org.apache.spark.sql.DataFrame,
        got: String, expected: String): Unit = {
      val (g, e) = (read(got), read(expected))
      assert(g.schema == e.schema, got)
      assert(g.exceptAll(e).isEmpty && e.exceptAll(g).isEmpty, got)
    }
    Seq("documents", "orders", "events").foreach { n =>
      val in = s"$sf0001/$n.parquet"
      FormatConvert.parquetToOrc(spark, in, s"$work/$n.orc")
      spark.read.parquet(in).write.orc(s"$work/$n.plain.orc")
      sameOutput(spark.read.orc(_), s"$work/$n.orc", s"$work/$n.plain.orc")
    }
    // avro goes through the same writer and reader FormatConvert picks
    val docs = s"$sf0001/documents.parquet"
    FormatConvert.parquetToAvro(spark, docs, s"$work/docs.avro")
    val plain = spark.read.parquet(docs)
    if (FormatConvert.avroAvailable) {
      plain.write.format("avro").save(s"$work/docs.plain.avro")
      sameOutput(spark.read.format("avro").load(_),
        s"$work/docs.avro", s"$work/docs.plain.avro")
    } else {
      AvroTables.write(plain, s"$work/docs.plain.avro")
      sameOutput(AvroTables.read(spark, _),
        s"$work/docs.avro", s"$work/docs.plain.avro")
    }
  }

  test("readDir fails like spark.read.parquet on a missing path and an empty dir") {
    val work = tmp("readdir-none")
    val emptyDir = Files.createDirectory(Paths.get(work, "empty")).toString
    Seq(s"$work/missing", emptyDir).foreach { p =>
      val expected = intercept[Exception](spark.read.parquet(p))
      val actual = intercept[Exception](ParquetTable.readDir(spark, p))
      assert(actual.getClass == expected.getClass, p)
      def condition(e: Exception) = e match {
        case t: SparkThrowable => t.getCondition
        case _ => null
      }
      assert(condition(actual) == condition(expected), p)
    }
  }

  test("building a frame through readDir, ParquetTable.read and Tables.load starts no Spark job") {
    val root = s"${tmp("readdir-jobs0")}/t"
    Seq(("a", 1L), ("b", 2L)).toDF("k", "v").write.parquet(root)
    assert(jobsStartedBy(ParquetTable.readDir(spark, root)) == 0)
    assert(jobsStartedBy(new ParquetTable(spark, root).read()) == 0)
    assert(jobsStartedBy(Tables.names.foreach(Tables.load(spark, sf001, _))) == 0)
    // the counter does see inference's job
    assert(jobsStartedBy(spark.read.parquet(root)) > 0)
  }
}
