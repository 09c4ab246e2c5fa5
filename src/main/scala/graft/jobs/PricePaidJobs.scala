package graft.jobs

import org.apache.spark.sql.functions._

import graft.core.Schemas
import graft.operators.Clean
import graft.orchestration.TaskGraph.{Task, TaskContext}
import graft.sources.ParquetTable

/** The two price-paid ingest DAGs re-expressed as task graphs over Spark
  * plans (SURVEY §3.1-3.2).
  *
  * The reference's HTTP download tasks become staged-path parameters
  * (`csv_path`): fetching is a connector/driver concern; the engine's
  * jobs start at landed files. Its duplicated per-chunk cleaning code
  * collapses into one `Clean.pricePaid` plan that Spark partitions —
  * the 100 000-line micro-batching of `initial_price_paid_data.py:106`
  * is exactly Spark's file-split parallelism, for free.
  */
object PricePaidJobs {

  /** Shared load plan: headerless CSV with pinned schema → clean →
    * OX-filter → insert-ignore into the parquet table, sorted within
    * partitions by postcode (the reference's secondary index, as layout).
    */
  private def load(ctx: TaskContext, csvPath: String, tableRoot: String): Unit = {
    val table = new ParquetTable(ctx.spark, tableRoot)
    table.ensureExists(Schemas.pricePaid)
    val raw = ctx.spark.read
      .schema(Schemas.pricePaidCsv)
      .option("header", "false")
      .option("encoding", "UTF-8") // BOM handled by Spark's CSV reader
      .csv(csvPath)
    val cleaned = Clean.oxfordOnly(Clean.pricePaid(raw))
      .select(Schemas.pricePaid.fieldNames.map(col).toSeq: _*)
    table.insertIgnore(cleaned, Seq("transaction_unique_identifier"),
      sortCols = Seq("postcode"))
  }

  /** `initial_price_paid_data` (bulk, ad-hoc): create → load → notify. */
  def initial(csvPath: String, tableRoot: String,
      notify: String => Unit = _ => ()): Seq[Task] = Seq(
    Task("ensure_table_exists", Nil, run = ctx =>
      new ParquetTable(ctx.spark, tableRoot).ensureExists(Schemas.pricePaid)),
    Task("stream_and_load_csv", Seq("ensure_table_exists"), run = ctx =>
      load(ctx, csvPath, tableRoot)),
    Task("send_success_notification", Seq("stream_and_load_csv"), run = _ =>
      notify("initial price paid load complete"))
  )

  /** `monthly_price_paid_data` (incremental, idempotent replay): the
    * download task stages the file into the run dir (W6 file handoff),
    * the load task reads it, cleanup removes it.
    */
  def monthly(csvPath: String, tableRoot: String,
      notify: String => Unit = _ => ()): Seq[Task] = Seq(
    Task("ensure_table_exists", Nil, run = ctx =>
      new ParquetTable(ctx.spark, tableRoot).ensureExists(Schemas.pricePaid)),
    Task("download_csv", Seq("ensure_table_exists"), run = ctx => {
      val dest = java.nio.file.Paths.get(ctx.stagingDir, "pp_monthly.csv")
      java.nio.file.Files.copy(java.nio.file.Paths.get(csvPath), dest,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }),
    Task("load_csv_to_table", Seq("download_csv"), run = ctx => {
      val staged = s"${ctx.stagingDir}/pp_monthly.csv"
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(staged)),
        s"staged CSV missing: $staged") // monthly_price_paid_data.py:113-114
      load(ctx, staged, tableRoot)
    }),
    Task("cleanup_csv", Seq("load_csv_to_table"), run = ctx =>
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(ctx.stagingDir, "pp_monthly.csv"))),
    Task("send_success_notification", Seq("cleanup_csv"), run = _ =>
      notify("monthly price paid load complete"))
  )
}
