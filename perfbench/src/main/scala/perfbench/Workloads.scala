package perfbench

import java.nio.file.Path
import java.time.{LocalDate, LocalDateTime}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.orchestration.{JobRegistry, TaskGraph}

/** One timed operation: a `TaskGraph.run`, or one registry query (the
  * factory call plus `count()`).
  */
final case class Op(name: String, seconds: Double, buildS: Double, ok: Boolean,
    rows: Long, error: String = null)

/** One iteration of a workload: its operations, the wall time of the
  * timed part, the bytes the Hadoop file system wrote during it, and the
  * `graft-run-*` dirs the DAG runs left behind.
  */
final case class Iteration(wallS: Double, ops: Seq[Op], bytesWritten: Long, leakedRunDirs: Int,
    check: String)

/** Everything an iteration needs besides the inputs; `resultsDir` keeps
  * query results for the oracle comparison.
  */
final class Ctx(val spark: SparkSession, val tmpDir: Path, val resultsDir: Option[Path],
    val tracer: Option[Tracer]) {

  def timed[T](name: String, op: Int)(body: => T): (T, Double) = {
    val t0 = System.nanoTime
    val v = tracer match {
      case Some(t) => t.span(name, op)(body)
      case None => body
    }
    (v, (System.nanoTime - t0) / 1e9)
  }

  /** One `TaskGraph.run` of a registered job, as an operation. In the
    * traced run every `Task.run` closure is wrapped in a span.
    */
  def runDag(job: String, params: Map[String, String]): Op = {
    val opId = tracer.map(_.newOp()).getOrElse(0)
    val tasks0 = JobRegistry.get(job).getOrElse(sys.error(s"job $job not registered"))(params)
    val tasks = tracer match {
      case Some(t) => tasks0.map(task => task.copy(run = tc => t.span(s"task:${task.id}", opId) {
        try task.run(tc) catch { case NonFatal(e) => t.failedAttempts += 1; throw e }
      }))
      case None => tasks0
    }
    val (res, s) = timed(s"dag:$job", opId) {
      try Right(TaskGraph.run(tasks, spark, params)) catch { case NonFatal(e) => Left(e) }
    }
    res match {
      case Right(r) =>
        tracer.foreach(_.tasksSkipped += r.states.values.count(_.isInstanceOf[TaskGraph.Skipped]))
        val err = r.states.collectFirst { case (id, f: TaskGraph.Failed) => s"$id: ${f.error}" }
        Op(job, s, 0.0, r.succeeded, 0L, err.orNull)
      case Left(e) => Op(job, s, 0.0, ok = false, 0L, e.toString)
    }
  }

  def hadoopBytesWritten: Long =
    org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file") match {
      case null => 0L
      case st => Option(st.getLong("bytesWritten")).map(_.longValue).getOrElse(0L)
    }

  /** Remove what the program left in the temp root (the leaked
    * `graft-run-*` staging dirs and the query scratch dirs) and return
    * how many `graft-run-*` dirs there were.
    */
  def sweepTmp(): Int = {
    val kids = Option(tmpDir.toFile.listFiles()).map(_.toSeq).getOrElse(Nil)
    val graftDirs = kids.filter(f => f.getName.startsWith("graft"))
    graftDirs.foreach(f => Dirs.rm(f.toPath))
    graftDirs.count(_.getName.startsWith("graft-run-"))
  }
}

object Dirs {
  def rm(p: Path): Unit = if (java.nio.file.Files.exists(p)) {
    val s = java.nio.file.Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
    finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = java.nio.file.Files.walk(from)
    try s.forEach { f =>
      val d = to.resolve(from.relativize(f).toString)
      if (java.nio.file.Files.isDirectory(f)) java.nio.file.Files.createDirectories(d)
      else java.nio.file.Files.copy(f, d)
    } finally s.close()
  }
}

/** A benchmark workload: seeded inputs, one iteration of operations
  * with its correctness check, and the direct per-layer probes of the
  * traced run.
  */
trait Workload {
  type In <: Inputs
  def name: String
  def generate(spark: SparkSession, dir: Path, seed: Long): In
  def iteration(ctx: Ctx, in: In, dir: Path): Iteration
  /** Untimed set-up work that runs every code path of an iteration once. */
  def warmup(ctx: Ctx, in: In, dir: Path): Unit = iteration(ctx, in, dir)
  def probes(ctx: Ctx, in: In, dir: Path): Map[String, Double]

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Median of three timed repetitions of `body`. */
  protected def probe(body: => Unit): Double = {
    val ts = (1 to 3).map { _ => val t0 = System.nanoTime; body; (System.nanoTime - t0) / 1e9 }
    ts.sorted.apply(1)
  }

  protected def iterationOf(ctx: Ctx, ops: => Seq[Op]): (Seq[Op], Double, Long) = {
    val b0 = ctx.hadoopBytesWritten
    val t0 = System.nanoTime
    val o = ops
    (o, (System.nanoTime - t0) / 1e9, ctx.hadoopBytesWritten - b0)
  }

  protected def failAll(ops: Seq[Op], check: String): Seq[Op] =
    if (check == null) ops else ops.map(o => if (o.ok) o.copy(ok = false, error = check) else o)
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "reference_dags" => ReferenceDags
    case "query_mix" => QueryMix
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The reference DAGs as an outer scheduler runs them: the price-paid
  * ingest, then simulated days of the scrape DAGs. The two parts keep
  * their own inputs, state tables, checks and probes.
  */
object ReferenceDags extends Workload {
  type In = Gen.DagInputs
  val name = "reference_dags"

  def generate(spark: SparkSession, dir: Path, seed: Long): In =
    Gen.DagInputs(PricePaidIngest.generate(spark, dir.resolve("price_paid"), seed),
      ScrapeDaily.generate(spark, dir.resolve("scrape"), seed))

  def iteration(ctx: Ctx, in: In, dir: Path): Iteration = {
    val a = PricePaidIngest.iteration(ctx, in.pricePaid, dir.resolve("price_paid"))
    val b = ScrapeDaily.iteration(ctx, in.scrape, dir.resolve("scrape"))
    Iteration(a.wallS + b.wallS, a.ops ++ b.ops, a.bytesWritten + b.bytesWritten,
      a.leakedRunDirs + b.leakedRunDirs, Option(a.check).getOrElse(b.check))
  }

  override def warmup(ctx: Ctx, in: In, dir: Path): Unit = {
    PricePaidIngest.warmup(ctx, in.pricePaid, dir.resolve("price_paid"))
    ScrapeDaily.warmup(ctx, in.scrape, dir.resolve("scrape"))
  }

  def probes(ctx: Ctx, in: In, dir: Path): Map[String, Double] =
    PricePaidIngest.probes(ctx, in.pricePaid, dir.resolve("price_paid")) ++
      ScrapeDaily.probes(ctx, in.scrape, dir.resolve("scrape"))

  /** The checks must reject planted wrong answers on the last iteration's tables. */
  def selfTest(spark: SparkSession, in: In, dir: Path): Boolean =
    PricePaidIngest.checkTable(spark, dir.resolve("price_paid/price_paid").toString,
      in.pricePaid.expectedIds + "PLANTED-MISSING-ID") != null &&
      ScrapeModel(in.scrape, ScrapeDaily.schedule().dropRight(1)).check(spark,
        dir.resolve("scrape/areas"), dir.resolve("scrape/sales"), dir.resolve("scrape/processed")) != null
}

/** Bulk load then monthly replays of the price-paid CSV: the time goes
  * to the CSV scan and `Clean`.
  */
object PricePaidIngest extends Workload {
  type In = Gen.PricePaidInput
  val name = "pricepaid_ingest"
  val initialRows = 300000
  val monthRows = 30000
  // six monthly runs put the median operation of reference_dags inside
  // the cluster of short runs (monthly loads, outcode enrichments) rather
  // than in the gap between it and the long ones
  val months = 6

  def generate(spark: SparkSession, dir: Path, seed: Long): In =
    Gen.pricePaid(dir, seed, initialRows, monthRows, months)

  def iteration(ctx: Ctx, in: In, dir: Path): Iteration = {
    val table = dir.resolve("price_paid").toString
    val (ops, wall, written) = iterationOf(ctx,
      ctx.runDag("initial_price_paid_data", Map("csv_path" -> in.initial.toString, "table_root" -> table)) +:
        in.months.map(m => ctx.runDag("monthly_price_paid_data",
          Map("csv_path" -> m.toString, "table_root" -> table))))
    val leaked = ctx.sweepTmp()
    val check = checkTable(ctx.spark, table, in.expectedIds)
    Iteration(wall, failAll(ops, check), written, leaked, check)
  }

  override def warmup(ctx: Ctx, in: In, dir: Path): Unit = {
    val table = dir.resolve("price_paid").toString
    ctx.runDag("initial_price_paid_data", Map("csv_path" -> in.initial.toString, "table_root" -> table))
    ctx.runDag("monthly_price_paid_data", Map("csv_path" -> in.months.head.toString, "table_root" -> table))
    ctx.sweepTmp()
  }

  /** The final `price_paid` ids are exactly the planted clean, unique
    * Oxford rows.
    */
  def checkTable(spark: SparkSession, table: String, expected: Set[String]): String = {
    val ids = spark.read.parquet(table).select("transaction_unique_identifier")
      .collect().map(_.getString(0))
    val got = ids.toSet
    if (ids.length != got.size) s"price_paid holds ${ids.length - got.size} duplicate ids"
    else if (got != expected)
      s"price_paid ids differ: ${(expected -- got).size} missing, ${(got -- expected).size} unexpected"
    else null
  }

  private def rawCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(graft.core.Schemas.pricePaidCsv).option("header", "false")
      .option("encoding", "UTF-8").csv(path)

  def probes(ctx: Ctx, in: In, dir: Path): Map[String, Double] = {
    import graft.operators.{Clean, Upsert}
    val spark = ctx.spark
    val raw = rawCsv(spark, in.initial.toString)
    val cleanS = probe(noop(Clean.oxfordOnly(Clean.pricePaid(raw))))
    val dateS = probe(noop(raw.select(graft.functions.DateCodecs.lenientDate(col("date_of_transfer")))))
    val table = dir.resolve("price_paid").toString
    val month = Clean.oxfordOnly(Clean.pricePaid(rawCsv(spark, in.months.head.toString)))
      .select(graft.core.Schemas.pricePaid.fieldNames.map(col).toSeq: _*)
    val key = Seq("transaction_unique_identifier")
    val insertS = probe(noop(Upsert.insertIgnore(spark.read.parquet(table), month, key)))
    Map(
      "operators.clean.rows_per_s" -> initialRows / cleanS,
      "functions.lenient_date.rows_per_s" -> initialRows / dateS,
      "operators.insert_ignore.s" -> insertS)
  }
}

/** Simulated logical days of the scrape DAGs: many small runs, each
  * rewriting whole tables, so the time goes to the per-job floor,
  * planning and small-file commits.
  */
object ScrapeDaily extends Workload {
  type In = Gen.ScrapeInput
  val name = "scrape_daily"
  val nAreas = 3000
  val nSales = 20000
  val days = 2
  val firstDay: LocalDate = LocalDate.of(2025, 10, 4) // Saturday; the weekly job fires on Sunday
  val jobs = Seq("pull_new_sales_list", "rightmove_outcodes", "process_sales_list")

  def generate(spark: SparkSession, dir: Path, seed: Long): In =
    Gen.scrape(spark, dir, seed, nAreas, nSales)

  def yyyymmdd(d: LocalDate): Long = d.getYear * 10000L + d.getMonthValue * 100L + d.getDayOfMonth

  /** The launches an outer scheduler makes over the simulated days, in
    * order: (job, logical date), as `JobSpec.dueRuns` decides them.
    */
  def schedule(from: LocalDate = firstDay, days: Int = days): Seq[(String, LocalDateTime)] = {
    val last = mutable.Map[String, LocalDateTime]()
    (0 until days).flatMap { d =>
      val now = from.plusDays(d.toLong).atTime(23, 0)
      jobs.flatMap { j =>
        JobRegistry.spec(j).get.dueRuns(now, last.get(j)).map { t => last(j) = t; (j, t) }
      }.sortBy(_._2)
    }
  }

  /** Fresh copies of the seeded state tables for a sequence of runs. */
  private def seedTables(in: In, dir: Path): Unit = {
    Dirs.copyTree(in.areasSeed, dir.resolve("areas"))
    Dirs.copyTree(in.salesSeed, dir.resolve("sales"))
  }

  private def runAll(ctx: Ctx, in: In, dir: Path, runs: Seq[(String, LocalDateTime)]): Seq[Op] =
    runs.map { case (job, t) =>
      ctx.runDag(job, Map("pages_path" -> in.pagesPath.toString, "payloads_path" -> in.payloadsPath.toString,
        "areas_root" -> dir.resolve("areas").toString, "sales_root" -> dir.resolve("sales").toString,
        "processed_path" -> dir.resolve("processed").toString,
        "today" -> yyyymmdd(t.toLocalDate).toString))
    }

  def iteration(ctx: Ctx, in: In, dir: Path): Iteration = {
    val runs = schedule()
    seedTables(in, dir)
    val (ops, wall, written) = iterationOf(ctx, runAll(ctx, in, dir, runs))
    val leaked = ctx.sweepTmp()
    val check = ScrapeModel(in, runs).check(ctx.spark, dir.resolve("areas"), dir.resolve("sales"),
      dir.resolve("processed"))
    Iteration(wall, failAll(ops, check), written, leaked, check)
  }

  override def warmup(ctx: Ctx, in: In, dir: Path): Unit = {
    seedTables(in, dir)
    runAll(ctx, in, dir, schedule(firstDay.plusDays(days - 1L), 1))
    ctx.sweepTmp()
  }

  def probes(ctx: Ctx, in: In, dir: Path): Map[String, Double] = {
    import graft.operators.{ScrapeParse, Upsert, WorkQueue}
    val spark = ctx.spark
    val sales = dir.resolve("sales").toString
    val areas = dir.resolve("areas").toString
    val pages = spark.read.parquet(in.pagesPath.toString)
    val today = yyyymmdd(firstDay.plusDays(days.toLong))
    val scraped = ScrapeParse.propertyIds(pages, "outcode", "html")
      .select(col("property_id"), lit(false).as("is_processed"),
        lit(today).as("created_date"), lit(today).as("updated_date"))
      .localCheckpoint()
    val merge = (t: DataFrame) => Upsert.mergeByKey(t, scraped, Seq("property_id"),
      Seq(col("updated_date").desc, col("created_date").asc))
    val parseS = probe(noop(ScrapeParse.propertyIds(pages, "outcode", "html")))
    val mergeS = probe(noop(merge(spark.read.parquet(sales))))
    val marks = spark.read.parquet(areas).select(col("outcode"), lit(today).as("last_updated_sale"))
    val updateS = probe(noop(Upsert.updateByNormalizedKey(spark.read.parquet(areas), marks, "outcode",
      Seq("last_updated_sale"))))
    val queueS = probe(WorkQueue.hashScatterBatch(spark.read.parquet(areas),
      WorkQueue.staleOrNever("last_updated_sale", today - 1), "outcode", 5).collect())
    Map(
      "operators.scrape_parse.rows_per_s" -> nAreas / parseS,
      "operators.merge_by_key.s" -> mergeS,
      "operators.update_by_key.s" -> updateS,
      "operators.work_queue.s" -> queueS) ++
      overwrite(ctx, dir.resolve("overwrite_probe"), sales, merge, scraped)
  }

  /** `ParquetTable.overwriteAtomic` of `merge(table)` on a copy of the
    * table: its time, and the bytes it wrote per byte of the new rows
    * alone.
    */
  private def overwrite(ctx: Ctx, dir: Path, table: String, merge: DataFrame => DataFrame,
      newRows: DataFrame): Map[String, Double] = {
    newRows.write.mode("overwrite").parquet(dir.resolve("new_rows").toString)
    val newBytes = Gen.dirBytes(dir.resolve("new_rows")).max(1L)
    var written = 0L
    val ts = (1 to 3).map { rep =>
      val copy = dir.resolve(s"table_$rep")
      Dirs.copyTree(java.nio.file.Paths.get(table), copy)
      val pt = new graft.sources.ParquetTable(ctx.spark, copy.toString)
      val b0 = ctx.hadoopBytesWritten
      val t0 = System.nanoTime
      pt.overwriteAtomic(merge(pt.read()))
      val s = (System.nanoTime - t0) / 1e9
      written += ctx.hadoopBytesWritten - b0
      s
    }
    Map("sources.overwrite.s" -> ts.sorted.apply(1),
      "sources.overwrite.bytes_per_new_byte" -> written / 3.0 / newBytes)
  }
}

/** A pass over registry queries: transactional-log commits, the SQL
  * parser and the iterative graph operators, next to plain reads.
  */
object QueryMix extends Workload {
  type In = Gen.TablesInput
  val name = "query_mix"
  val queries = Seq("q01_pricing_summary", "q117_txlog_skipping_read", "q201_sql_txlog_merge",
    "q71_pagerank", "q34_dedup_closure", "q190_wiki_dump")

  def generate(spark: SparkSession, dir: Path, seed: Long): In = Gen.tables(spark, dir, seed)

  def iteration(ctx: Ctx, in: In, dir: Path): Iteration = {
    val sf = in.dir.toString
    var untimed = 0.0
    var untimedBytes = 0L
    val (ops, wall, written) = iterationOf(ctx, queries.map { q =>
      val opId = ctx.tracer.map(_.newOp()).getOrElse(0)
      val t0 = System.nanoTime
      var buildS = 0.0
      val (res, s) = ctx.timed(s"query:$q", opId) {
        try {
          val df = graft.SparkEntry.queries(q)(ctx.spark, sf)
          buildS = (System.nanoTime - t0) / 1e9
          Right((df, df.count()))
        } catch { case NonFatal(e) => Left(e) }
      }
      res match {
        case Right((df, n)) =>
          // the first measured result of each query is kept, untimed
          ctx.resultsDir.map(_.resolve(q)).filterNot(java.nio.file.Files.exists(_)).foreach { out =>
            val w0 = System.nanoTime
            val b0 = ctx.hadoopBytesWritten
            df.write.parquet(out.toString)
            untimed += (System.nanoTime - w0) / 1e9
            untimedBytes += ctx.hadoopBytesWritten - b0
          }
          Op(q, s, buildS, ok = true, n)
        case Left(e) => Op(q, s, buildS, ok = false, 0L, e.toString)
      }
    })
    ctx.sweepTmp()
    Iteration(wall - untimed, ops, written - untimedBytes, 0, null)
  }

  def probes(ctx: Ctx, in: In, dir: Path): Map[String, Double] = {
    import graft.ext.{ConnectedComponents, MinHashDedup, Sampling}
    import graft.functions.{TextFunctions => T}
    val spark = ctx.spark
    val tracer = ctx.tracer.get
    val docs = graft.core.Tables.documents(spark, in.dir.toString).cache()
    val nDocs = docs.count()
    val textS = probe(noop(docs.filter(T.langId(col("text")) === "en" &&
      T.qualityScore(col("text")) >= 0.25 && T.tokenCount(col("text")) >= 10)))
    val fpS = probe(noop(docs.select(T.fingerprintMd5(col("text")))))
    var pairs: DataFrame = null
    var nPairs = 0L
    val minhashS = probe {
      if (pairs != null) pairs.unpersist()
      pairs = MinHashDedup.nearDuplicates(docs, "doc_id", "text", 0.5).cache()
      nPairs = pairs.count()
    }
    val ccStart = System.currentTimeMillis
    val ccS = probe(noop(ConnectedComponents.auto(pairs, "doc_a", "doc_b")))
    val ccJobs = tracer.sparkIn(ccStart, System.currentTimeMillis).jobs / 3.0
    val budgets = (0 until 20).map(i => s"src$i" -> 1500L).toMap
    val mixS = probe(noop(Sampling.tokenBudgetMixture(docs, "source", "doc_id",
      T.tokenCount(col("text")), budgets)))
    pairs.unpersist(); docs.unpersist()

    val ev = graft.core.Tables.events(spark, in.dir.toString)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"), col("ts_ns"))
    var appendS = 0.0; var mergeS = 0.0; var jobs = 0.0
    for (rep <- 1 to 3) {
      val t = new graft.sources.TxLogTable(spark, dir.resolve(s"txlog_probe_$rep").toString)
      t.ensureExists(ev.schema)
      val w0 = System.currentTimeMillis
      val a0 = System.nanoTime
      t.append(ev.filter(pmod(col("event_id"), lit(2)) === 0))
      val a1 = System.nanoTime
      t.merge(ev.filter(pmod(col("event_id"), lit(2)) === 1), Seq("user_id"),
        Seq(col("ts_ns").desc, col("event_id").desc))
      val a2 = System.nanoTime
      jobs += tracer.sparkIn(w0, System.currentTimeMillis).jobs
      appendS += (a1 - a0) / 1e9; mergeS += (a2 - a1) / 1e9
    }
    Map(
      "functions.text_filters.rows_per_s" -> nDocs / textS,
      "functions.fingerprint.rows_per_s" -> nDocs / fpS,
      "ext.minhash.s" -> minhashS,
      "ext.minhash.pairs" -> nPairs.toDouble,
      "ext.components.s" -> ccS,
      "ext.components.spark_jobs" -> ccJobs,
      "ext.mixture.s" -> mixS,
      "sources.txlog.append.s" -> appendS / 3,
      "sources.txlog.merge.s" -> mergeS / 3,
      "sources.txlog.commit_spark_jobs" -> jobs / 3)
  }
}
