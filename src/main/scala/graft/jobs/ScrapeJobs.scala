package graft.jobs

import org.apache.spark.sql.functions._

import graft.core.Schemas
import graft.operators.{FetchConfig, Fetcher, ScrapeParse, Upsert, WorkQueue}
import graft.orchestration.TaskGraph.Task
import graft.sources.ParquetTable

/** The two scrape DAGs (SURVEY §3.3, §2.10). The fetch stage runs
  * through the [[graft.operators.Fetcher]] seam — politeness sleeps, UA
  * rotation, timeouts, retry/continue-on-error (T5/O3) live behind the
  * trait, so the offline fixture replay used here and a future live
  * HTTP connector are interchangeable; the engine owns everything
  * declarative after the `(key, payload)` frame.
  */
object ScrapeJobs {

  /** `pull_new_sales_list` over landed fixtures: the [[Fetcher]]-based
    * job below with the offline replay implementation plugged in.
    *
    * @param pagesPath parquet of (outcode string, html string)
    * @param today     yyyymmdd logical date (determinism: F12 is a job
    *                  parameter, not `datetime.now()`)
    */
  def pullNewSales(
      pagesPath: String,
      areasRoot: String,
      salesRoot: String,
      today: Long,
      batchAreas: Int = 5): Seq[Task] =
    pullNewSalesVia(
      // keys-filtered load: only the work batch's pages are collected,
      // and the filter reaches the parquet scan
      (spark, keys) => Fetcher.FixtureFetcher.fromParquet(
        spark, pagesPath, "outcode", "html", Some(keys)),
      areasRoot, salesRoot, today, batchAreas,
      // fixture replay needs no politeness pauses
      cfg = FetchConfig(pageSleepMs = 0, areaSleepMs = 0, retryDelayMs = 0))

  /** `pull_new_sales_list` against any connector: pick a work batch of
    * areas (stale-or-never watermark, deterministic scatter), fetch each
    * area's page through `mkFetcher` (retry + continue-on-error: a key
    * failing every attempt is skipped, the batch proceeds —
    * `pull_new_sales_list.py:275-281`), extract property ids, merge into
    * sales_properties (insert-or-update, latest updated_date wins), then
    * advance the watermark for every area whose page LANDED — including
    * zero-result pages (`:267-271`, avoids retry storms) but NOT failed
    * fetches, which stay stale and are naturally retried next run.
    *
    * The fetch loop is driver-side and bounded by `batchAreas` (the
    * reference's work-queue LIMIT): politeness serializes requests
    * regardless of cluster size; distributed work starts at the landed
    * frame.
    */
  def pullNewSalesVia(
      mkFetcher: (org.apache.spark.sql.SparkSession, Seq[String]) => Fetcher,
      areasRoot: String,
      salesRoot: String,
      today: Long,
      batchAreas: Int = 5,
      cfg: FetchConfig = FetchConfig(),
      sleeper: Long => Unit = Thread.sleep): Seq[Task] = Seq(
    Task("ensure_tables", Nil, run = ctx => {
      new ParquetTable(ctx.spark, areasRoot).ensureExists(Schemas.rightmoveAreas)
      new ParquetTable(ctx.spark, salesRoot).ensureExists(Schemas.salesProperties)
    }),
    Task("process_sales_batch", Seq("ensure_tables"), run = ctx => {
      val spark = ctx.spark
      val areas = new ParquetTable(spark, areasRoot)
      val sales = new ParquetTable(spark, salesRoot)
      val batch = WorkQueue.hashScatterBatch(
        areas.read(),
        WorkQueue.staleOrNever("last_updated_sale", today - 1),
        "outcode", batchAreas)
      // bounded driver list: batchAreas keys (the reference's LIMIT)
      val keys = batch.select("outcode").collect().map(_.getString(0)).toSeq
      val fetched = Fetcher.fetchBatch(mkFetcher(spark, keys), keys, cfg, sleeper)
      fetched.failed.foreach { case (k, e) =>
        System.err.println(s"[pull_new_sales] $k failed, continuing: $e")
      }
      val pages = Fetcher.toFrame(spark, fetched, "outcode", "html")
      val scraped = ScrapeParse.propertyIds(pages, "outcode", "html")
        .select(col("property_id"), lit(false).as("is_processed"),
          lit(today).as("created_date"), lit(today).as("updated_date"))
      val merged = Upsert.mergeByKey(
        sales.read(), scraped, Seq("property_id"),
        // updates (later updated_date) win; target row keeps created_date
        // via precedence on updated_date then is_processed stability
        Seq(col("updated_date").desc, col("created_date").asc))
      sales.overwriteAtomic(merged)
      // advance watermark for every LANDED area (zero-result too);
      // failed fetches stay stale → picked up again next run
      val landedKeys = fetched.landed.map(_._1)
      if (landedKeys.nonEmpty) {
        import spark.implicits._
        val advanced = Upsert.updateByNormalizedKey(
          areas.read(),
          landedKeys.toDF("outcode")
            .select(col("outcode"), lit(today).as("last_updated_sale")),
          "outcode", Seq("last_updated_sale"))
        areas.overwriteAtomic(advanced)
      }
    })
  )

  /** Work-queue consumer for the `is_processed` flag the reference
    * declares on sales_properties (`pull_new_sales_list.py:77`) —
    * downstream jobs pick unprocessed work and flip the flag exactly
    * once. The engine side of that loop: select an `is_processed =
    * false` batch (deterministic scatter, same as every work queue
    * here), hand the batch to the downstream sink, then mark the batch
    * processed and advance its updated_date. Replay safety: a re-run
    * selects only still-unprocessed rows (never re-stamped), and the
    * handoff sink is insert-ignore on (property_id, updated_date) —
    * the CONSUMPTION identity, not the property: a crash between emit
    * and mark re-emits the same consumption as a no-op, while a
    * legitimately re-scraped property (producer reset the flag with a
    * new updated_date) is a new consumption and IS delivered again
    * (keying on property_id alone would suppress it forever).
    * Emit-then-mark plus idempotent sink = effectively-once; the
    * reverse order would lose the batch on the same crash.
    *
    * GRANULARITY LIMIT (inherent to the reference's yyyymmdd data
    * model): a re-scrape landing on the SAME logical day as the
    * previously emitted updated_date coalesces into that consumption —
    * it is not re-delivered until the date advances. Sub-day consumers
    * need a finer version column on sales_properties; with day-level
    * logical dates there is nothing finer to key on.
    *
    * @param salesRoot     sales_properties table root
    * @param processedPath append sink receiving each consumed batch
    * @param today         yyyymmdd logical date
    */
  def processSales(
      salesRoot: String,
      processedPath: String,
      today: Long,
      batchSize: Int = 100): Seq[Task] = Seq(
    Task("ensure_tables", Nil, run = ctx => {
      new ParquetTable(ctx.spark, salesRoot).ensureExists(Schemas.salesProperties)
      new ParquetTable(ctx.spark, processedPath)
        .ensureExists(Schemas.salesProperties)
    }),
    Task("consume_and_mark", Seq("ensure_tables"), run = ctx => {
      val spark = ctx.spark
      val sales = new ParquetTable(spark, salesRoot)
      val out = new ParquetTable(spark, processedPath)
      val batch = WorkQueue.hashScatterBatch(
        sales.read(),
        col("is_processed").isNull || !col("is_processed"),
        "property_id", batchSize)
        .localCheckpoint() // pin the batch: the marking overwrite below
                           // must not re-plan the selection over the
                           // already-mutated table
      out.insertIgnore(batch, Seq("property_id", "updated_date"))
      val marked = Upsert.updateByNormalizedKey(
        sales.read(),
        batch.select(col("property_id"),
          lit(true).as("is_processed"), lit(today).as("updated_date")),
        "property_id", Seq("is_processed", "updated_date"))
      sales.overwriteAtomic(marked)
    })
  )

  /** `rightmove_outcodes`: enrich areas missing area_id (null/0) from
    * landed typeahead JSON payloads — first OUTCODE match per outcode,
    * lenient id cast, case-insensitive keyed update.
    *
    * @param payloadsPath parquet of (outcode string, payload json string)
    */
  def outcodeEnrich(
      payloadsPath: String,
      areasRoot: String,
      batchSize: Int = 50): Seq[Task] = Seq(
    Task("ensure_table", Nil, run = ctx =>
      new ParquetTable(ctx.spark, areasRoot).ensureExists(Schemas.rightmoveAreas)),
    Task("enrich_outcodes", Seq("ensure_table"), run = ctx => {
      val spark = ctx.spark
      val areas = new ParquetTable(spark, areasRoot)
      val batch = WorkQueue.hashScatterBatch(
        areas.read(), WorkQueue.nullOrZero("area_id"), "outcode", batchSize)
      // case-normalized key join, matching the reference's
      // lower(outcode)=lower(%s) semantics (rightmove_outcodes.py:63)
      val payloads = ParquetTable.readDir(spark, payloadsPath)
        .join(batch.select(lower(trim(col("outcode"))).as("__bk")),
          lower(trim(col("outcode"))) === col("__bk"))
        .drop("__bk")
      val matches = ScrapeParse.firstOutcodeMatch(payloads, "outcode", "payload")
      val updated = Upsert.updateByNormalizedKey(
        areas.read(), matches, "outcode", Seq("area_id", "display_name"))
      areas.overwriteAtomic(updated)
    })
  )
}
