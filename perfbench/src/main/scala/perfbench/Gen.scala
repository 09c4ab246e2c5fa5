package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** What every workload's generated inputs report about themselves. */
trait Inputs {
  def records: Long
  def bytes: Long
  def digest: String
}

/** Seeded input generators. Every generator is a pure function of
  * (seed, sizes): the same seed gives byte-identical records, and each
  * generator also returns the ground truth its workload's checks use.
  */
object Gen {

  def rng(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong)

  def md5Hex(s: String): String = hex(MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8)))

  def hex(bytes: Array[Byte]): String = java.util.HexFormat.of().formatHex(bytes)

  /** Digest of a record stream: the same seed gives the same digest. */
  def digestOf(records: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    records.foreach { r => md.update(r.getBytes(UTF_8)); md.update('\n'.toByte) }
    hex(md.digest())
  }

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))

  private val upper = ('A' to 'Z').map(_.toString)

  // ── price-paid CSVs (FIXTURES §B1) ────────────────────────────────

  final case class PricePaidInput(
      initial: Path,
      months: Seq[Path],
      records: Long,
      bytes: Long,
      expectedIds: Set[String],
      digest: String) extends Inputs

  private val outwards = Vector("CB1", "SW1A", "M1", "B12", "LS6", "BS8",
    "NR2", "EX4", "YO1", "CF10", "RG1", "MK9", "SN1", "GL1", "BA1")
  private val streets = Vector("HIGH STREET", "COWLEY ROAD", "BANBURY ROAD",
    "STATION ROAD", "CHURCH LANE", "MILL LANE", "VICTORIA ROAD", "PARK AVENUE")
  private val towns = Vector("OXFORD", "CAMBRIDGE", "LONDON", "LEEDS",
    "BRISTOL", "NORWICH", "EXETER", "YORK", "CARDIFF", "READING")

  /** A raw price-paid line: 16 quoted positional fields, except a null
    * postcode, which is an empty unquoted field.
    */
  private final case class PpRow(id: String, line: String, clean: Boolean, ox: Boolean)

  private def hexPad(v: Long, width: Int): String = {
    val h = java.lang.Long.toHexString(v).toUpperCase
    "0" * (width - h.length) + h
  }

  private def ppRow(r: SplittableRandom): PpRow = {
    val id = s"{${hexPad(r.nextInt() & 0x7fffffffL, 8)}-${hexPad(r.nextInt(0x10000), 4)}-" +
      s"${hexPad(r.nextInt(0x10000), 4)}-${hexPad(r.nextInt(0x10000), 4)}-" +
      s"${hexPad(r.nextLong() & 0xffffffffffffL, 12)}}"
    val ox = r.nextInt(100) == 0
    val kind = r.nextInt(1000) // dirty-row kinds at fixed rates
    val day = java.time.LocalDate.of(2015, 1, 1).plusDays(r.nextInt(3650).toLong)
    val date = if (kind < 20) s"${day.getDayOfMonth}/${day.getMonthValue}/${day.getYear} 00:00"
      else s"$day 00:00"
    val price = if (kind >= 20 && kind < 40) "N/A" else (50000 + r.nextInt(950000)).toString
    val inward = s"${r.nextInt(10)}${pick(r, upper)}${pick(r, upper)}"
    val postcode =
      if (kind >= 40 && kind < 50) null
      else if (ox) s"OX${1 + r.nextInt(9)} $inward"
      else s"${pick(r, outwards)} $inward"
    val town = if (ox) "OXFORD" else pick(r, towns)
    val fields = Seq(id, price, date, postcode, pick(r, Vector("D", "S", "T", "F", "O")),
      pick(r, Vector("Y", "N")), pick(r, Vector("F", "L")), (1 + r.nextInt(200)).toString, "",
      pick(r, streets), "", town, town, if (ox) "OXFORDSHIRE" else "COUNTY", pick(r, Vector("A", "B")), "A")
    val line = fields.map(f => if (f == null) "" else "\"" + f + "\"").mkString(",")
    PpRow(id, line, clean = kind >= 50, ox = ox)
  }

  /** One initial bulk file and `months` monthly files. About 1 row in
    * 100 is an Oxford postcode; bad dates, bad prices and null postcodes
    * come at fixed per-mille rates; about 1% of rows repeat a row of the
    * same file and 5% of every monthly file re-sends earlier rows. Each
    * monthly file starts with a UTF-8 byte-order mark.
    */
  def pricePaid(dir: Path, seed: Long, initialRows: Int, monthRows: Int,
      months: Int): PricePaidInput = {
    Files.createDirectories(dir)
    val r = rng(seed, "price_paid")
    val sent = mutable.ArrayBuffer[PpRow]()
    val expected = mutable.Set[String]()
    val md = MessageDigest.getInstance("SHA-256")
    var lines = 0L
    var bytes = 0L
    def write(name: String, n: Int, bom: Boolean, resendFrac: Double): Path = {
      val p = dir.resolve(name)
      val sb = new java.lang.StringBuilder(n * 160)
      if (bom) sb.append(0xFEFF.toChar)
      val fileStart = sent.size
      for (_ <- 0 until n) {
        val row =
          if (sent.nonEmpty && r.nextDouble() < resendFrac) sent(r.nextInt(sent.size))
          else if (sent.size > fileStart && r.nextInt(100) == 0)
            sent(fileStart + r.nextInt(sent.size - fileStart))
          else { val x = ppRow(r); sent += x; x }
        if (row.clean && row.ox) expected += row.id.stripPrefix("{").stripSuffix("}")
        sb.append(row.line).append('\n')
      }
      val b = sb.toString.getBytes(UTF_8)
      Files.write(p, b)
      md.update(b)
      lines += n
      bytes += b.length
      p
    }
    val initial = write("pp_initial.csv", initialRows, bom = false, resendFrac = 0.0)
    val ms = (1 to months).map(m => write(f"pp_month_$m%02d.csv", monthRows, bom = true, resendFrac = 0.05))
    PricePaidInput(initial, ms, lines, bytes, expected.toSet,
      hex(md.digest()))
  }

  /** The inputs of both reference-DAG families. */
  final case class DagInputs(pricePaid: PricePaidInput, scrape: ScrapeInput) extends Inputs {
    def records: Long = pricePaid.records + scrape.records
    def bytes: Long = pricePaid.bytes + scrape.bytes
    def digest: String = digestOf(Iterator(pricePaid.digest, scrape.digest))
  }

  // ── scrape fixtures (FIXTURES §B2-B4) ─────────────────────────────

  final case class Area(outcode: String, areaId: Option[Long], displayName: String,
      lastUpdatedSale: Option[Long])
  final case class Sale(propertyId: String, isProcessed: Boolean, created: Long, updated: Long)
  final case class Payload(key: String, json: String, firstOutcode: Option[(Option[Long], String)])

  final case class ScrapeInput(
      areasSeed: Path,
      salesSeed: Path,
      pagesPath: Path,
      payloadsPath: Path,
      areas: Seq[Area],
      sales: Seq[Sale],
      pageIds: Map[String, Seq[String]],
      payloads: Map[String, Payload],
      records: Long,
      bytes: Long,
      digest: String) extends Inputs

  /** Outcode state table (all area_id sentinel states, stale and fresh
    * watermarks), pre-seeded sales, one landed search page per outcode
    * and one typeahead payload per outcode (some lower-cased keys, some
    * without an OUTCODE match, some with a non-numeric id).
    */
  def scrape(spark: SparkSession, dir: Path, seed: Long, nAreas: Int, nSales: Int): ScrapeInput = {
    val r = rng(seed, "scrape")
    val outcodes = mutable.LinkedHashSet[String]()
    while (outcodes.size < nAreas)
      outcodes += s"${pick(r, upper)}${pick(r, upper)}${1 + r.nextInt(99)}"
    val areas = outcodes.toVector.map { oc =>
      val state = r.nextInt(10)
      val areaId = if (state < 4) None else if (state < 6) Some(0L) else if (state < 7) Some(-1L)
        else Some(1000L + r.nextInt(90000))
      val wm = if (r.nextBoolean()) None else Some(20250801L + r.nextInt(30))
      Area(oc, areaId, if (areaId.exists(_ > 0)) oc else null, wm)
    }
    val salesIds = mutable.LinkedHashSet[String]()
    while (salesIds.size < nSales) salesIds += (10000000 + r.nextInt(90000000)).toString
    val sales = salesIds.toVector.map { id =>
      val created = 20250901L + r.nextInt(29)
      Sale(id, r.nextBoolean(), created, created)
    }
    val pageIds = areas.map { a =>
      val n = if (r.nextInt(8) == 0) 0 else 1 + r.nextInt(12)
      a.outcode -> (0 until n).map { _ =>
        if (r.nextInt(10) == 0) sales(r.nextInt(sales.size)).propertyId
        else (10000000 + r.nextInt(90000000)).toString
      }.distinct
    }.toMap
    val html = areas.map { a =>
      val cards = pageIds(a.outcode).map { id =>
        s"""<div class="l-searchResult is-list"><div class="propertyCard">""" +
          s"""<a class="propertyCard-link" href="/properties/$id#/?channel=RES_BUY">""" +
          s"""<h2>${r.nextInt(6)} bedroom house</h2></a></div></div>"""
      }.mkString("\n")
      val model = s"""{"properties":[],"pagination":{"next":"${r.nextInt(40)}","note":"{a}"},"location":"${a.outcode}"}"""
      a.outcode -> s"<html><body><main>$cards</main><script>window.jsonModel = $model</script></body></html>"
    }
    val payloads = areas.map { a =>
      val kind = r.nextInt(20)
      val key = if (r.nextInt(5) == 0) a.outcode.toLowerCase else a.outcode
      val street = s"""{"type":"STREET","id":"${r.nextInt(99999)}","displayName":"${pick(r, streets)}, ${a.outcode}"}"""
      val (matches, first) =
        if (kind == 0) (Seq(street), None)
        else if (kind == 1) (Seq(street, s"""{"type":"OUTCODE","id":"abc","displayName":"${a.outcode}"}"""),
          Some((None, a.outcode)))
        else {
          val id = 100L + r.nextInt(900000)
          (Seq(street, s"""{"type":"OUTCODE","id":"$id","displayName":"${a.outcode}"}""",
            s"""{"type":"OUTCODE","id":"${id + 1}","displayName":"${a.outcode} (2)"}"""),
            Some((Some(id), a.outcode)))
        }
      a.outcode -> Payload(key, s"""{"matches":[${matches.mkString(",")}]}""", first)
    }.toMap

    val areasRows = areas.map(a => Row(a.outcode, a.areaId.map(Long.box).orNull, a.displayName,
      a.lastUpdatedSale.map(Long.box).orNull))
    val salesRows = sales.map(s => Row(s.propertyId, s.isProcessed, s.created, s.updated))
    val pageRows = html.map { case (k, h) => Row(k, h) }
    val payloadRows = areas.map(a => Row(payloads(a.outcode).key, payloads(a.outcode).json))
    val kv = StructType(Seq(StructField("outcode", StringType), StructField("html", StringType)))
    val kp = StructType(Seq(StructField("outcode", StringType), StructField("payload", StringType)))
    def save(rows: Seq[Row], schema: StructType, p: Path): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(p.toString)
    val areasSeed = dir.resolve("areas_seed")
    val salesSeed = dir.resolve("sales_seed")
    val pagesPath = dir.resolve("pages")
    val payloadsPath = dir.resolve("payloads")
    save(areasRows, graft.core.Schemas.rightmoveAreas, areasSeed)
    save(salesRows, graft.core.Schemas.salesProperties, salesSeed)
    save(pageRows, kv, pagesPath)
    save(payloadRows, kp, payloadsPath)
    val records = areas.map(_.toString) ++ sales.map(_.toString) ++
      html.map { case (k, h) => s"$k\t$h" } ++ areas.map(a => s"${payloads(a.outcode)}")
    ScrapeInput(areasSeed, salesSeed, pagesPath, payloadsPath, areas, sales, pageIds, payloads,
      records = records.size.toLong,
      bytes = Seq(areasSeed, salesSeed, pagesPath, payloadsPath).map(dirBytes).sum,
      digest = digestOf(records.iterator))
  }

  // ── relational + events + documents tables (FIXTURES §A shapes) ───

  final case class TablesInput(dir: Path, records: Long, bytes: Long, digest: String) extends Inputs

  private val words = Vector("key", "agg", "row", "scan", "slow", "fast", "table", "value",
    "part", "hash", "merge", "batch", "spark", "a", "the", "line", "sort", "window",
    "data", "column", "join", "small", "big", "query", "customer", "order", "group",
    "stream", "filter", "vector")

  /** Tables with the sf0.01 fixtures' row counts and types: TPC-H-style
    * star schema, an events table and a documents table with planted
    * near-duplicate pairs.
    */
  def tables(spark: SparkSession, dir: Path, seed: Long): TablesInput = {
    val r = rng(seed, "tables")
    val nCust = 1500
    val nSupp = 100
    val nPart = 2000
    val nOrd = 15000
    val nLine = 60000
    val nEv = 10000
    val nDoc = 500
    def cents(lo: Int, hi: Int): Double = (lo + r.nextInt(hi - lo)) / 100.0
    def ts(base: java.time.LocalDateTime, spanSec: Long, micros: Boolean): java.time.LocalDateTime = {
      val t = base.plusSeconds((r.nextDouble() * spanSec).toLong)
      if (micros) t.plusNanos(r.nextInt(1000000) * 1000L) else t
    }
    val day0 = java.time.LocalDateTime.of(1995, 1, 1, 0, 0)
    val i32 = IntegerType; val i64 = LongType; val str = StringType; val dbl = DoubleType
    def schema(fs: (String, DataType)*): StructType = StructType(fs.map { case (n, t) => StructField(n, t) })
    val regionNames = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val tbls: Seq[(String, StructType, Seq[Row])] = Seq(
      ("region", schema("r_regionkey" -> i32, "r_name" -> str),
        (0 until 5).map(i => Row(i, regionNames(i)))),
      ("nation", schema("n_nationkey" -> i32, "n_name" -> str, "n_regionkey" -> i32),
        (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))),
      ("customer", schema("c_custkey" -> i64, "c_name" -> str, "c_nationkey" -> i32,
        "c_acctbal" -> dbl, "c_mktsegment" -> str),
        (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), cents(-99999, 999999),
          pick(r, Vector("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"))))),
      ("supplier", schema("s_suppkey" -> i64, "s_name" -> str, "s_nationkey" -> i32, "s_acctbal" -> dbl),
        (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), cents(-99999, 999999)))),
      ("part", schema("p_partkey" -> i64, "p_name" -> str, "p_brand" -> str, "p_type" -> str,
        "p_size" -> i32, "p_retailprice" -> dbl),
        (0 until nPart).map(i => Row(i.toLong,
          s"${pick(r, Vector("small", "red", "large", "blue", "green", "shiny", "old", "new"))} " +
            pick(r, Vector("ring", "widget", "bolt", "gear", "valve", "panel", "spring", "plate")),
          s"Brand#${1 + r.nextInt(25)}",
          pick(r, Vector("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")),
          1 + r.nextInt(50), (9000 + r.nextInt(1000)) / 10.0))),
      ("orders", schema("o_orderkey" -> i64, "o_custkey" -> i64, "o_orderstatus" -> str,
        "o_totalprice" -> dbl, "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> str),
        (0 until nOrd).map(i => Row(i.toLong, r.nextInt(nCust).toLong, pick(r, Vector("F", "O", "P")),
          cents(100000, 50000000), ts(day0, 2400L * 86400, micros = false).toLocalDate.atStartOfDay,
          pick(r, Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))))),
      ("lineitem", schema("l_orderkey" -> i64, "l_partkey" -> i64, "l_suppkey" -> i64,
        "l_linenumber" -> i32, "l_quantity" -> dbl, "l_extendedprice" -> dbl, "l_discount" -> dbl,
        "l_tax" -> dbl, "l_returnflag" -> str, "l_linestatus" -> str, "l_shipdate" -> TimestampNTZType),
        (0 until nLine).map(_ => Row(r.nextInt(nOrd).toLong, r.nextInt(nPart).toLong,
          r.nextInt(nSupp).toLong, 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
          cents(90000, 10000000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          pick(r, Vector("A", "N", "R")), pick(r, Vector("O", "F")),
          ts(day0.plusDays(1), 2498L * 86400, micros = false).toLocalDate.atStartOfDay))),
      ("events", schema("event_id" -> i64, "ts" -> TimestampNTZType, "user_id" -> i64,
        "event_type" -> str, "value" -> dbl, "props" -> str),
        (0 until nEv).map(i => Row(i.toLong,
          ts(java.time.LocalDateTime.of(2024, 1, 1, 0, 0), 30L * 86400, micros = true),
          r.nextInt(150).toLong, pick(r, Vector("click", "signup", "error", "view", "purchase")),
          cents(1, 49000), s"""{"k": ${r.nextInt(100)}}"""))),
      ("documents", schema("doc_id" -> i64, "text" -> str, "lang" -> str, "source" -> str, "n_chars" -> i64), {
        val base = (0 until nDoc).map(_ => (0 until 20 + r.nextInt(60)).map(_ => pick(r, words)))
        // planted near-duplicates: every 20th doc copies an earlier one
        // with two words substituted
        val texts = base.indices.map { i =>
          if (i % 20 == 19) {
            val src = base(r.nextInt(i)).toArray
            for (_ <- 0 until 2) src(r.nextInt(src.length)) = pick(r, words)
            src.mkString(" ")
          } else base(i).mkString(" ")
        }
        texts.indices.map(i => Row(i.toLong, texts(i),
          pick(r, Vector("en", "en", "en", "fr", "de", "es", "zh")), s"src${r.nextInt(20)}",
          texts(i).length.toLong))
      }))
    Files.createDirectories(dir)
    tbls.foreach { case (name, sch, rows) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), sch).coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    }
    TablesInput(dir, tbls.map(_._3.size.toLong).sum, dirBytes(dir),
      digestOf(tbls.iterator.flatMap { case (n, _, rows) => rows.iterator.map(x => s"$n\t$x") }))
  }

  /** Bytes of the data files under `p` (Spark's checksum and marker
    * files excluded).
    */
  def dirBytes(p: Path): Long = {
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
          !f.getFileName.toString.startsWith("_"))
        .mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }
  }
}
