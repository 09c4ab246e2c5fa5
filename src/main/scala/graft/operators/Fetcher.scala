package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.ParquetTable

/** Connector seam for the scrape DAGs' fetch stage. The engine's
  * declarative work starts at a `(key, payload)` frame; everything
  * before it — HTTP, politeness sleeps, UA rotation, timeouts — is
  * connector territory this trait isolates, so the offline fixture
  * replay and a future live HTTP client share one interface and the
  * jobs cannot tell them apart.
  *
  * Reference semantics carried over (pull_new_sales_list.py):
  *  - config knobs: request timeout 15 s (:22), page/area politeness
  *    sleeps 0.5 s / 1 s (:20-21), rotating User-Agent per request
  *    (fake_useragent at :6), retries with delay (default_args :29-33)
  *  - error discipline (:275-281): a key that fails even after retries
  *    logs and is SKIPPED — the batch continues; its watermark is NOT
  *    advanced, so the next run naturally retries it. Zero RESULTS is
  *    not an error: the page landed, the watermark advances.
  */
trait Fetcher {

  /** Payload for one work key (an outcode, a property id, a page URL).
    * Right(payload) on success — empty payload = a legitimate
    * zero-result page; Left(error) on fetch failure.
    */
  def fetch(key: String, headers: Map[String, String]): Either[String, String]
}

/** Knobs of the reference's fetch loop, in one place.
  *
  * `timeoutMs` is a CONTRACT on implementations with a transport:
  * a network-backed [[Fetcher]] must bound each attempt by it and
  * surface expiry as Left (see [[HttpFetcher]] — connect + response
  * timeout; spec-pinned against a deliberately slow localhost server).
  * [[Fetcher.FixtureFetcher]] has no transport, so nothing to bound.
  */
final case class FetchConfig(
    timeoutMs: Int = 15000,
    pageSleepMs: Long = 500,
    areaSleepMs: Long = 1000,
    userAgents: Seq[String] = FetchConfig.DefaultUserAgents,
    maxRetries: Int = 1,
    retryDelayMs: Long = 0L) {
  require(timeoutMs > 0 && maxRetries >= 0)
}

object FetchConfig {
  /** Static UA pool standing in for fake_useragent's live list. */
  val DefaultUserAgents: Seq[String] = Seq(
    "Mozilla/5.0 (X11; Linux x86_64) Gecko/20100101 Firefox/126.0",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 Chrome/125.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 13_5) AppleWebKit/605.1.15 Version/16.5 Safari/605.1.15")
}

object Fetcher {

  /** Outcome of one batch walk: landed (key, payload) pairs in input
    * order, and (key, lastError) for keys that failed every attempt.
    */
  final case class FetchResult(
      landed: Seq[(String, String)],
      failed: Seq[(String, String)])

  /** The reference's batch fetch loop, connector-agnostic: per key,
    * up to 1+maxRetries attempts with a rotating UA header and a retry
    * delay; a key that exhausts attempts is recorded and the loop
    * CONTINUES (continue-on-error parity with :275-281 — one bad area
    * must not abort the other four). Politeness sleep between keys.
    *
    * Driver-side and sequential BY DESIGN: politeness serializes
    * requests no matter how many executors exist, and the batch is
    * already bounded (work-queue LIMIT, reference :95-103). The
    * distributed pipeline starts at [[FetchResult.landed]].
    *
    * @param sleeper injectable for tests (defaults to Thread.sleep)
    */
  def fetchBatch(
      fetcher: Fetcher,
      keys: Seq[String],
      cfg: FetchConfig = FetchConfig(),
      sleeper: Long => Unit = Thread.sleep): FetchResult = {
    val landed = Seq.newBuilder[(String, String)]
    val failed = Seq.newBuilder[(String, String)]
    var attempt = 0 // global counter so the UA rotates across retries too
    keys.zipWithIndex.foreach { case (key, i) =>
      if (i > 0 && cfg.areaSleepMs > 0) sleeper(cfg.areaSleepMs)
      var remaining = 1 + cfg.maxRetries
      var done = false
      var lastErr = ""
      while (remaining > 0 && !done) {
        // empty pool = caller manages headers itself — send none rather
        // than indexing an empty Seq
        val headers =
          if (cfg.userAgents.isEmpty) Map.empty[String, String]
          else Map("User-Agent" -> cfg.userAgents(attempt % cfg.userAgents.size))
        attempt += 1
        remaining -= 1
        fetcher.fetch(key, headers) match {
          case Right(payload) => landed += (key -> payload); done = true
          case Left(err) =>
            lastErr = err
            if (remaining > 0 && cfg.retryDelayMs > 0) sleeper(cfg.retryDelayMs)
        }
      }
      if (!done) failed += (key -> lastErr)
    }
    FetchResult(landed.result(), failed.result())
  }

  /** Paginated fetch of ONE work key — the reference's page walk
    * (`get_rightmove_properties`, pull_new_sales_list.py:161-199): fetch
    * page 0, 1, … through `pageKey`, sleeping `cfg.pageSleepMs` between
    * page requests (PAGE_SLEEP parity), stopping at the first failure or
    * empty page, and ALWAYS at `maxPages` (the O3 pagination cap — a
    * lying server cannot make the walk unbounded). Returns the landed
    * pages in order plus the error that stopped the walk, if any.
    */
  def fetchPaged(
      fetcher: Fetcher,
      pageKey: Int => String,
      maxPages: Int,
      cfg: FetchConfig = FetchConfig(),
      sleeper: Long => Unit = Thread.sleep): (Seq[String], Option[String]) = {
    require(maxPages > 0, "maxPages must be positive")
    val pages = Seq.newBuilder[String]
    var page = 0
    var stop: Option[String] = None
    var exhausted = false
    while (page < maxPages && stop.isEmpty && !exhausted) {
      if (page > 0 && cfg.pageSleepMs > 0) sleeper(cfg.pageSleepMs)
      val headers =
        if (cfg.userAgents.isEmpty) Map.empty[String, String]
        else Map("User-Agent" -> cfg.userAgents(page % cfg.userAgents.size))
      fetcher.fetch(pageKey(page), headers) match {
        case Right(p) if p.isEmpty => exhausted = true // past the last page
        case Right(p) => pages += p; page += 1
        case Left(err) => stop = Some(err)
      }
    }
    (pages.result(), stop)
  }

  /** Offline fixture replay — the sandbox implementation. Payloads come
    * from a landed `(key, payload)` parquet table; a key absent from
    * the fixtures is a zero-result page (Right("")), matching the
    * engine's long-standing join semantics, NOT a fetch failure. A key
    * landed with SEVERAL page rows (the paginated-scrape shape) replays
    * as one newline-joined payload in a deterministic order, so every
    * page's extractable content survives — the old join fed each row
    * separately and a Map would have silently kept one.
    */
  final class FixtureFetcher(pages: Map[String, String]) extends Fetcher {
    override def fetch(key: String,
        headers: Map[String, String]): Either[String, String] =
      Right(pages.getOrElse(key, ""))
  }

  object FixtureFetcher {
    /** Load fixtures for `keys` only (the work batch — pages tables can
      * be large; the filter reaches the parquet scan) — or everything
      * when `keys` is None.
      */
    def fromParquet(spark: SparkSession, path: String, keyCol: String,
        payloadCol: String,
        keys: Option[Seq[String]] = None): FixtureFetcher = {
      import org.apache.spark.sql.functions.col
      val all = ParquetTable.readDir(spark, path).select(keyCol, payloadCol)
      val wanted = keys.fold(all)(ks => all.filter(col(keyCol).isin(ks: _*)))
      val rows = wanted.collect()
        .map(r => (r.getString(0), Option(r.getString(1)).getOrElse("")))
      new FixtureFetcher(rows.groupBy(_._1).map { case (k, vs) =>
        k -> vs.map(_._2).sorted.mkString("\n")
      })
    }
  }

  /** Landed pairs as a DataFrame — the handoff from connector to engine. */
  def toFrame(spark: SparkSession, result: FetchResult, keyCol: String,
      payloadCol: String): DataFrame = {
    import spark.implicits._
    result.landed.toDF(keyCol, payloadCol)
  }
}
