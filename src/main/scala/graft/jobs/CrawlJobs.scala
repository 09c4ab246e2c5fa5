package graft.jobs

import org.apache.spark.sql.functions._

import graft.ext.{Frontier, LinkGraph}
import graft.functions.{CharsetDetect, MainContent, RobotsRules, UrlFunctions,
  TextFunctions => T}
import graft.orchestration.TaskGraph.Task
import graft.sources.{ParquetTable, WarcDerive, WarcSource}

/** The crawl-ingest pipeline — the missing upstream of
  * [[CorpusJobs.buildTrainingSet]]: raw crawl archives in, a
  * `documents`-shaped table out, plus the link graph and the next
  * polite fetch frontier. Together the two jobs are the complete path
  *
  *   .warc(.gz/.zst) → charset decode → main-content extraction →
  *   language-ID/quality/tokens → documents
  *                 ↘ link graph → host ranks
  *                 ↘ new URLs − seen − robots-denied → frontier plan
  *
  * Each stage materializes its table (independently inspectable,
  * resumable, idempotent — pure re-derivations, hash-deterministic
  * randomness only). Scale shape: WARC parse and extraction are
  * per-file/per-row scan stages; the link aggregate is one (src,dst)
  * shuffle; the frontier diff is an anti-join on normalized URL; the
  * politeness plan is [[Frontier.schedule]]'s single domain window.
  *
  * Robots filtering takes the per-domain robots.txt BODIES as a table
  * (domain, robots_txt) — fetched by the previous cycle like any other
  * page — and evaluates [[RobotsRules]] per candidate URL, the
  * decision the reference's fetch loop applies implicitly by hitting
  * only whitelisted hosts (`pull_new_sales_list.py:96-134`).
  */
object CrawlJobs {

  /** @param warcGlob   input archives (`binaryFile` path glob)
    * @param outRoot    stage tables root: documents/, host_graph/,
    *                   frontier/
    * @param agent      crawler product token for robots evaluation
    * @param seenPath   optional parquet of already-fetched URLs (url)
    * @param robotsPath optional parquet of robots bodies
    *                   (domain, robots_txt)
    * @param nShards    politeness shards for the next-fetch plan
    */
  def ingest(
      warcGlob: String,
      outRoot: String,
      agent: String = "graftbot",
      seenPath: Option[String] = None,
      robotsPath: Option[String] = None,
      nShards: Int = 256): Seq[Task] = Seq(

    Task("parse_extract", Nil, run = ctx => {
      import ctx.spark.implicits._
      val pages = WarcSource.responses(WarcSource.read(ctx.spark, warcGlob))
        .filter(r => r.http_status.contains(200))
        .map { r =>
          val d = CharsetDetect.decode(r.payload, r.http_content_type)
          val pd = RobotsRules.pageDirectives(d.text)
          (r.target_uri, d.charset, MainContent.extract(d.text), d.text,
            pd.noindex, pd.nofollow)
        }
        .toDF("url", "charset", "main_text", "raw_html",
          "pg_noindex", "pg_nofollow")
      // page-level robots: noindex pages never enter the pipeline —
      // corpus, link graph, frontier; the conservative reading (search
      // engines long-term demote noindex pages' links regardless). The
      // nofollow FLAG rides along so the link/frontier tasks can drop
      // those pages' endorsements without re-parsing.
      val docs = pages
        .filter(!col("pg_noindex"))
        .withColumn("doc_id", xxhash64(col("url")))
        .withColumn("source",
          UrlFunctions.registrableDomain(UrlFunctions.host(col("url"))))
        .withColumn("lang", T.langId(col("main_text")))
        .withColumn("quality", T.qualityScore(col("main_text")))
        .withColumn("n_tokens", T.tokenCount(col("main_text")))
        .select("doc_id", "url", "source", "charset", "lang", "quality",
          "n_tokens", "main_text", "raw_html", "pg_nofollow")
      new ParquetTable(ctx.spark, s"$outRoot/documents")
        .overwriteAtomic(docs, sortCols = Seq("source"))
    }),

    Task("link_graph", Seq("parse_extract"), run = ctx => {
      val docs = ParquetTable.readDir(ctx.spark, s"$outRoot/documents")
        .filter(!col("pg_nofollow")) // meta-nofollow: no endorsements
      val edges = LinkGraph.edges(docs, "url", "raw_html")
      new ParquetTable(ctx.spark, s"$outRoot/host_graph")
        .overwriteAtomic(LinkGraph.hostGraph(edges).toDF())
    }),

    Task("frontier", Seq("parse_extract"), run = ctx => {
      import ctx.spark.implicits._
      val docs = ParquetTable.readDir(ctx.spark, s"$outRoot/documents")
      // candidate URLs: followed links from followable pages (meta
      // nofollow drops the whole page's outlinks), minus fetched
      val links = LinkGraph.edges(docs.filter(!col("pg_nofollow")),
          "url", "raw_html")
        .filter(l => !l.nofollow)
        .map(_.dst_url)
        .toDF("url").dropDuplicates("url")
      val seen = seenPath.map(ParquetTable.readDir(ctx.spark, _))
        .getOrElse(docs.select("url"))
      val fresh = links.join(seen.select(col("url")), Seq("url"), "left_anti")
      // robots admission: evaluate the domain's body per candidate —
      // a broadcast-able (domain, robots_txt) join, then a scan-stage
      // RobotsRules decision
      val admitted = robotsPath match {
        case None => fresh
        case Some(p) =>
          val robots = ParquetTable.readDir(ctx.spark, p) // (domain, robots_txt)
          fresh
            .withColumn("domain",
              UrlFunctions.registrableDomain(UrlFunctions.host(col("url"))))
            .join(broadcast(robots), Seq("domain"), "left")
            .select(col("url"), col("robots_txt"))
            .as[(String, Option[String])]
            .filter { case (url, txt) =>
              txt.forall { t =>
                // regex, not java.net.URI: crawl URLs routinely violate
                // RFC 3986 strictness and a throw here poisons the task
                val path = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)".r
                  .findFirstMatchIn(url).map(_.group(1)).getOrElse("/")
                RobotsRules.parse(t).allows(agent, path)
              }
            }
            .map(_._1).toDF("url")
      }
      val plan = Frontier.schedule(admitted, "url",
        priority = lit(0), delayMs = lit(1000L), nShards = nShards)
      new ParquetTable(ctx.spark, s"$outRoot/frontier")
        .overwriteAtomic(plan, sortCols = Seq("shard", "seq"))
    }),

    // the distribution companions (Common Crawl's WET/WAT siblings):
    // derived from ALL response records — unlike documents/, which
    // keeps only status-200 main content, WET/WAT are faithful to the
    // fetch (errors included) so downstream consumers can re-filter.
    // Pure scan stage over the same per-archive tasks as parse_extract.
    Task("wet_wat", Nil, run = ctx => {
      val responses = WarcSource.responses(WarcSource.read(ctx.spark, warcGlob))
      new ParquetTable(ctx.spark, s"$outRoot/wet")
        .overwriteAtomic(WarcDerive.wet(responses).toDF())
      new ParquetTable(ctx.spark, s"$outRoot/wat")
        .overwriteAtomic(WarcDerive.wat(responses).toDF())
    }))
}
