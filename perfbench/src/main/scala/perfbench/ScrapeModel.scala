package perfbench

import java.nio.file.Path
import java.time.LocalDateTime

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** In-memory model of the scrape DAGs over the generated inputs: the
  * expected `sales_properties`, `rightmove_areas` and `processed`
  * tables after a sequence of runs, computed without Spark.
  *
  * Work batches follow the jobs' rule: eligible rows ordered by
  * (md5(key), key), first n.
  */
final case class ScrapeModel(in: Gen.ScrapeInput, runs: Seq[(String, LocalDateTime)]) {
  import ScrapeModel._

  private val areas = mutable.LinkedHashMap[String, AreaRow]()
  private val sales = mutable.LinkedHashMap[String, SaleRow]()
  private val processed = mutable.LinkedHashMap[(String, Long), SaleRow]()

  in.areas.foreach(a => areas(a.outcode) = AreaRow(a.areaId, Option(a.displayName), a.lastUpdatedSale))
  in.sales.foreach(s => sales(s.propertyId) = SaleRow(s.propertyId, Some(s.isProcessed), s.created, s.updated))
  runs.foreach { case (job, t) =>
    val today = ScrapeDaily.yyyymmdd(t.toLocalDate)
    job match {
      case "pull_new_sales_list" => pull(today)
      case "process_sales_list" => process(today)
      case "rightmove_outcodes" => outcodes()
    }
  }

  private def batch[K](keys: Iterable[K], key: K => String, n: Int): Seq[K] =
    keys.toSeq.map(k => (Gen.md5Hex(key(k)), key(k), k)).sortBy(t => (t._1, t._2)).take(n).map(_._3)

  private def pull(today: Long): Unit = {
    val eligible = areas.collect { case (oc, a) if a.wm.forall(_ <= today - 1) => oc }
    val keys = batch[String](eligible, identity, 5)
    keys.flatMap(in.pageIds(_)).distinct.foreach { id =>
      val cand = SaleRow(id, Some(false), today, today)
      sales.get(id) match {
        case Some(old) if old.updated > today || (old.updated == today && old.created <= today) =>
        case _ => sales(id) = cand
      }
    }
    keys.foreach(k => areas(k) = areas(k).copy(wm = Some(today)))
  }

  private def process(today: Long): Unit = {
    val eligible = sales.values.filter(s => !s.processed.getOrElse(false))
    batch[SaleRow](eligible, _.id, 100).foreach { s =>
      processed.getOrElseUpdate((s.id, s.updated), s)
      sales(s.id) = s.copy(processed = Some(true), updated = today)
    }
  }

  private def outcodes(): Unit = {
    val eligible = areas.collect { case (oc, a) if a.areaId.forall(_ == 0L) => oc }
    batch[String](eligible, identity, 50).foreach { oc =>
      in.payloads(oc).firstOutcode.foreach { case (id, display) =>
        areas(oc) = areas(oc).copy(areaId = id, display = Some(display))
      }
    }
  }

  /** Compare the tables a run sequence left with the model; null when
    * they agree, else what differs.
    */
  def check(spark: SparkSession, areasRoot: Path, salesRoot: Path, processedRoot: Path): String = {
    def opt[T](x: Any): Option[T] = Option(x).map(_.asInstanceOf[T])
    val gotSales = spark.read.parquet(salesRoot.toString).collect().map(r =>
      SaleRow(r.getString(0), opt[Boolean](r.get(1)), r.getLong(2), r.getLong(3))).toSeq
    val gotAreas = spark.read.parquet(areasRoot.toString).collect().map(r =>
      r.getString(0) -> AreaRow(opt[Long](r.get(1)), opt[String](r.get(2)), opt[Long](r.get(3)))).toSeq
    val gotProcessed = spark.read.parquet(processedRoot.toString).collect().map(r =>
      SaleRow(r.getString(0), opt[Boolean](r.get(1)), r.getLong(2), r.getLong(3))).toSeq
    def diff[T](what: String, got: Seq[T], want: Seq[T]): Option[String] = {
      val (g, w) = (got.groupBy(identity).map { case (k, v) => k -> v.size },
        want.groupBy(identity).map { case (k, v) => k -> v.size })
      if (g == w) None
      else {
        val extra = got.filterNot(w.contains).take(2)
        val missing = want.filterNot(g.contains).take(2)
        Some(s"$what differs (got ${got.size}, want ${want.size}; unexpected $extra; missing $missing)")
      }
    }
    diff("sales_properties", gotSales, sales.values.toSeq)
      .orElse(diff("rightmove_areas", gotAreas, areas.toSeq))
      .orElse(diff("processed", gotProcessed, processed.values.toSeq))
      .orNull
  }
}

object ScrapeModel {
  final case class AreaRow(areaId: Option[Long], display: Option[String], wm: Option[Long])
  final case class SaleRow(id: String, processed: Option[Boolean], created: Long, updated: Long)
}
