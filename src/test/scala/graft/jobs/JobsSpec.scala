package graft.jobs

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.orchestration.TaskGraph
import graft.sources.ParquetTable

/** End-to-end pipeline parity (SURVEY §5.4): dirty CSV → full DAG →
  * target table assertions; replay ⇒ identical state.
  */
class JobsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  /** FIXTURES §B1 dirty CSV: good row, bad date, bad price, null
    * postcode, non-OX, duplicate id.
    */
  private def writeCsv(dir: String): String = {
    val rows = Seq(
      """"{AAA-1}","250000","2017-03-10 00:00","OX4 1AB","T","N","F","12","","COWLEY ROAD","","OXFORD","OXFORD","OXFORDSHIRE","A","A"""",
      """"{BAD-DATE}","100","not a date","OX1 1AA","T","N","F","1","","X","","OXFORD","OXFORD","OXFORDSHIRE","A","A"""",
      """"{BAD-PRICE}","?","2017-03-10 00:00","OX1 1AA","T","N","F","1","","X","","OXFORD","OXFORD","OXFORDSHIRE","A","A"""",
      """"{NO-PC}","100","2017-03-10 00:00",,"T","N","F","1","","X","","OXFORD","OXFORD","OXFORDSHIRE","A","A"""",
      """"{NOT-OX}","100","2017-03-10 00:00","SW1A 1AA","T","N","F","1","","X","","LONDON","LONDON","LONDON","A","A"""",
      """"{AAA-1}","999999","2017-03-10 00:00","OX4 1AB","T","N","F","12","","COWLEY ROAD","","OXFORD","OXFORD","OXFORDSHIRE","A","A"""")
    val p = java.nio.file.Paths.get(dir, "pp.csv")
    Files.write(p, rows.mkString("\n").getBytes("UTF-8"))
    p.toString
  }

  test("initial ingest: dirty rows dropped, dup id collapsed, replay idempotent") {
    val work = tmp("ppjob")
    val csv = writeCsv(work)
    val tableRoot = s"$work/price_paid"
    var notified = false
    val r = TaskGraph.run(
      PricePaidJobs.initial(csv, tableRoot, _ => notified = true), spark)
    assert(r.succeeded && notified)
    val out = new ParquetTable(spark, tableRoot).read()
    val rows = out.collect()
    assert(rows.length == 1) // only the clean OX row, dup collapsed
    val r0 = rows.head
    assert(r0.getAs[String]("transaction_unique_identifier") == "AAA-1")
    assert(r0.getAs[Long]("date_of_transfer") == 20170310L)
    // replay: same end state (idempotent insert-ignore)
    val r2 = TaskGraph.run(
      PricePaidJobs.initial(csv, tableRoot, _ => ()), spark)
    assert(r2.succeeded)
    assert(new ParquetTable(spark, tableRoot).read().count() == 1)
  }

  test("monthly ingest stages, loads, cleans up") {
    val work = tmp("ppmonthly")
    val csv = writeCsv(work)
    val tableRoot = s"$work/price_paid"
    val r = TaskGraph.run(PricePaidJobs.monthly(csv, tableRoot), spark)
    assert(r.succeeded, r.states)
    assert(new ParquetTable(spark, tableRoot).read().count() == 1)
  }

  test("monthly replay: price_paid files untouched, every data file sorted by postcode") {
    val work = tmp("ppreplay")
    def row(id: String, pc: String) =
      s""""{$id}","100","2017-03-10 00:00","$pc","T","N","F","1","","X","","OXFORD","OXFORD","OXFORDSHIRE","A","A""""
    def csv(name: String, rows: String*) = {
      val p = java.nio.file.Paths.get(work, name)
      Files.write(p, rows.mkString("\n").getBytes("UTF-8"))
      p.toString
    }
    val tableRoot = s"$work/price_paid"
    assert(TaskGraph.run(PricePaidJobs.initial(csv("initial.csv",
      row("A", "OX9 9ZZ"), row("B", "OX1 1AA"), row("C", "OX4 4DD")), tableRoot), spark).succeeded)
    val monthly = csv("monthly.csv",
      row("D", "OX3 3CC"), row("B", "OX1 1AA"), row("E", "OX2 2BB"), row("F", "OX8 8YY"))
    assert(TaskGraph.run(PricePaidJobs.monthly(monthly, tableRoot), spark).succeeded)
    def files() = {
      val s = Files.list(java.nio.file.Paths.get(tableRoot))
      try s.iterator().asScala.map(f => f.getFileName.toString -> Files.readAttributes(
        f, classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()).toMap
      finally s.close()
    }
    val before = files()
    assert(TaskGraph.run(PricePaidJobs.monthly(monthly, tableRoot), spark).succeeded)
    assert(files() == before)
    val table = new ParquetTable(spark, tableRoot)
    assert(table.read().select("transaction_unique_identifier").as[String]
      .collect().sorted.toSeq == Seq("A", "B", "C", "D", "E", "F"))
    val data = before.keySet.filterNot(n => n.startsWith("_") || n.startsWith("."))
    assert(data.size > 1)
    data.foreach { name =>
      val pcs = ParquetTable.readDir(spark, s"$tableRoot/$name")
        .select("postcode").as[String].collect().toSeq
      assert(pcs == pcs.sorted, name)
    }
  }

  test("pullNewSales: work batch, merge, watermark advanced even for empty areas") {
    val work = tmp("sales")
    val areasRoot = s"$work/areas"
    val salesRoot = s"$work/sales"
    val pagesPath = s"$work/pages"
    // two stale areas (null watermark), one fresh (today)
    Seq(
      ("OX1", Some(11L), "Oxford", None: Option[Long]),
      ("OX2", Some(22L), "Oxford2", None: Option[Long]),
      ("OX3", Some(33L), "Oxford3", Some(20240610L)))
      .toDF("outcode", "area_id", "display_name", "last_updated_sale")
      .write.parquet(areasRoot)
    Seq(
      ("OX1", """<a href="/properties/123#x">a</a><a href="/properties/456">b</a><a href="/properties/123">dup</a>"""),
      ("OX2", """no links here"""))
      .toDF("outcode", "html").write.parquet(pagesPath)

    val r = TaskGraph.run(
      ScrapeJobs.pullNewSales(pagesPath, areasRoot, salesRoot,
        today = 20240610L, batchAreas = 5), spark)
    assert(r.succeeded, r.states)
    val sales = new ParquetTable(spark, salesRoot).read()
    assert(sales.select("property_id").as[String].collect().toSet == Set("123", "456"))
    val wm = new ParquetTable(spark, areasRoot).read()
      .select("outcode", "last_updated_sale").as[(String, Option[Long])]
      .collect().toMap
    assert(wm("OX1").contains(20240610L))
    assert(wm("OX2").contains(20240610L)) // empty area still advanced (T3)
    assert(wm("OX3").contains(20240610L)) // already-fresh untouched value equal

    // second run same day: batch now empty (no stale areas) — state stable
    val r2 = TaskGraph.run(
      ScrapeJobs.pullNewSales(pagesPath, areasRoot, salesRoot,
        today = 20240610L), spark)
    assert(r2.succeeded)
    assert(new ParquetTable(spark, salesRoot).read().count() == 2)
  }

  test("outcodeEnrich: first OUTCODE match, lenient cast, case-insensitive update") {
    val work = tmp("outcodes")
    val areasRoot = s"$work/areas"
    val payloadsPath = s"$work/payloads"
    Seq(
      ("OX1", None: Option[Long], null: String, None: Option[Long]),
      ("OX2", Some(0L), null: String, None: Option[Long]),
      ("OX9", Some(77L), "done", None: Option[Long]))
      .toDF("outcode", "area_id", "display_name", "last_updated_sale")
      .write.parquet(areasRoot)
    Seq(
      ("ox1", """{"matches":[{"type":"STREET","id":"9"},{"type":"OUTCODE","id":"123","displayName":"OX1 Central"},{"type":"OUTCODE","id":"999","displayName":"later"}]}"""),
      ("OX2", """{"matches":[{"type":"OUTCODE","id":"not-a-number","displayName":"Broken"}]}"""))
      .toDF("outcode", "payload").write.parquet(payloadsPath)

    val r = TaskGraph.run(
      ScrapeJobs.outcodeEnrich(payloadsPath, areasRoot), spark)
    assert(r.succeeded, r.states)
    val m = new ParquetTable(spark, areasRoot).read()
      .select("outcode", "area_id", "display_name")
      .collect().map(x => x.getString(0) ->
        (Option(x.get(1)), x.getString(2))).toMap
    assert(m("OX1") == ((Some(123L), "OX1 Central"))) // first OUTCODE wins, key case-insensitive
    assert(m("OX2") == ((None, "Broken")))            // lenient cast → null id
    assert(m("OX9") == ((Some(77L), "done")))         // untouched
  }

  test("processSales: consumes unprocessed batches, flag flips exactly once under replay") {
    val work = tmp("consume")
    val salesRoot = s"$work/sales"
    val outPath = s"$work/processed"
    Seq(
      ("P1", false, 20250101L, 20250101L),
      ("P2", false, 20250101L, 20250101L),
      ("P3", true, 20250101L, 20250102L)) // already processed: untouchable
      .toDF("property_id", "is_processed", "created_date", "updated_date")
      .write.parquet(salesRoot)

    // batch of 1: drains one unprocessed row per run
    val r1 = TaskGraph.run(
      ScrapeJobs.processSales(salesRoot, outPath, today = 20250110L,
        batchSize = 1), spark)
    assert(r1.succeeded, r1.states)
    val after1 = new ParquetTable(spark, salesRoot).read()
      .select("property_id", "is_processed", "updated_date")
      .collect().map(x => x.getString(0) -> ((x.getBoolean(1), x.getLong(2)))).toMap
    assert(after1.count(_._2._1) == 2)             // one new flip
    assert(after1("P3") == ((true, 20250102L)))    // prior work not re-stamped

    // second run drains the other; third run finds nothing eligible
    val r2 = TaskGraph.run(
      ScrapeJobs.processSales(salesRoot, outPath, today = 20250111L,
        batchSize = 1), spark)
    val r3 = TaskGraph.run(
      ScrapeJobs.processSales(salesRoot, outPath, today = 20250112L,
        batchSize = 1), spark)
    assert(r2.succeeded && r3.succeeded)
    val after3 = new ParquetTable(spark, salesRoot).read()
      .select("property_id", "is_processed", "updated_date")
      .collect().map(x => x.getString(0) -> ((x.getBoolean(1), x.getLong(2)))).toMap
    assert(after3.values.forall(_._1))
    // each of P1/P2 was stamped by exactly one run and never again
    assert(Set(after3("P1")._2, after3("P2")._2) == Set(20250110L, 20250111L))
    assert(after3("P3") == ((true, 20250102L)))
    // the handoff sink saw each property exactly once (no re-emission)
    val emitted = new ParquetTable(spark, outPath).read()
      .select("property_id").collect().map(_.getString(0)).sorted
    assert(emitted.toSeq == Seq("P1", "P2"))

    // crash-window replay: emit succeeded but the mark didn't — the
    // sales row is exactly as before the mark (flag false, ORIGINAL
    // updated_date). The retry re-emits the same consumption into the
    // (property_id, updated_date)-keyed sink as a no-op.
    import org.apache.spark.sql.functions.{col => c, when => w, lit => l}
    val sales = new ParquetTable(spark, salesRoot)
    val p1IsP = c("property_id") === "P1"
    sales.overwriteAtomic(sales.read()
      .withColumn("is_processed", w(p1IsP, false).otherwise(c("is_processed")))
      .withColumn("updated_date", w(p1IsP, l(20250101L)).otherwise(c("updated_date"))))
    val r4 = TaskGraph.run(
      ScrapeJobs.processSales(salesRoot, outPath, today = 20250113L,
        batchSize = 1), spark)
    assert(r4.succeeded)
    val emitted2 = new ParquetTable(spark, outPath).read()
      .select("property_id").collect().map(_.getString(0)).sorted
    assert(emitted2.toSeq == Seq("P1", "P2"), s"duplicated: ${emitted2.toSeq}")

    // legitimate re-processing: the producer reset the flag WITH a new
    // updated_date (a re-scrape) — a NEW consumption that must be
    // delivered again, not suppressed by the idempotent sink
    sales.overwriteAtomic(sales.read()
      .withColumn("is_processed", w(p1IsP, false).otherwise(c("is_processed")))
      .withColumn("updated_date", w(p1IsP, l(20250120L)).otherwise(c("updated_date"))))
    val r5 = TaskGraph.run(
      ScrapeJobs.processSales(salesRoot, outPath, today = 20250121L,
        batchSize = 1), spark)
    assert(r5.succeeded)
    val emitted3 = new ParquetTable(spark, outPath).read()
      .select("property_id", "updated_date")
      .collect().map(x => (x.getString(0), x.getLong(1))).sorted
    assert(emitted3.count(_._1 == "P1") == 2, // both consumptions delivered
      s"re-scrape suppressed: ${emitted3.toSeq}")
  }
}
