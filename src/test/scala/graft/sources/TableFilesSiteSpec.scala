package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One codec decision for graft's tables: every Parquet write under
  * `graft/sources` takes its writer options from
  * [[TableFiles.parquetOptions]], so no table writer falls back to the
  * session's codec. A Parquet write is a `.write` chain that ends in
  * `.parquet(...)` or names `format("parquet")`, or a
  * `stagedParquetWriters(...)` call.
  */
class TableFilesSiteSpec extends AnyFunSuite {

  /** Assembled so that this file holds no site itself. */
  private val constant = "TableFiles" + ".parquetOptions"
  // `.write` then a writer call: not `Files.write(...)`, not a package
  private val writeChain = """\.write\s*\.[a-z]\w*\s*\(""".r
  private val chainEnd =
    """\.(parquet|save|saveAsTable|insertInto|csv|json|orc|text|jdbc)\s*\(""".r
  private val stagedCall = ("stagedParquet" + "Writers" + """\s*\(""").r

  /** The code of `f` without comment lines and trailing `//` comments. */
  private def code(f: Path): String =
    Files.readAllLines(f).asScala.map(_.trim)
      .filterNot(l => Seq("//", "*", "/*").exists(l.startsWith))
      .map(l => l.indexOf(" //") match { case -1 => l; case i => l.take(i) })
      .mkString("\n")

  /** The text from `open` (just past an opening paren) to its match. */
  private def args(s: String, open: Int): String = {
    var depth = 1; var i = open
    while (i < s.length && depth > 0) {
      if (s(i) == '(') depth += 1 else if (s(i) == ')') depth -= 1
      i += 1
    }
    s.substring(open, i)
  }

  /** (file, Parquet write, whether it takes the constant) of every
    * Parquet write in the `.scala` files under `root`.
    */
  private def parquetWrites(root: Path): Seq[(String, String, Boolean)] = {
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList.sorted
      finally walk.close()
    files.flatMap { f =>
      val s = code(f)
      val name = root.relativize(f).toString
      val chains = writeChain.findAllMatchIn(s).flatMap { m =>
        chainEnd.findFirstMatchIn(s.substring(m.start)).map { e =>
          val chain = s.substring(m.start, m.start + e.end) +
            args(s, m.start + e.end)
          (e.group(1), chain)
        }
      }.collect {
        case (end, chain) if end == "parquet" ||
            chain.contains("format(\"parquet\")") =>
          (name, chain, chain.contains(s".options($constant)"))
      }
      val staged = stagedCall.findAllMatchIn(s).map { m =>
        val call = m.matched + args(s, m.end)
        (name, call, call.contains(constant))
      }
      chains ++ staged
    }
  }

  test("every Parquet write in graft.sources takes TableFiles.parquetOptions") {
    val writes = parquetWrites(Paths.get("src/main/scala/graft/sources"))
    assert(writes.map(_._1).distinct.sorted == Seq("BucketedTable.scala",
      "FormatConvert.scala", "ParquetTable.scala", "TxLogTable.scala",
      "TxLogV2.scala"), writes.mkString("\n"))
    val missing = writes.filterNot(_._3)
    assert(missing.isEmpty, missing.map(w => s"${w._1}: ${w._2}").mkString("\n"))
  }

  test("the scan finds a Parquet write that leaves the codec to the session") {
    val dir = Files.createTempDirectory("table_files_site")
    Files.writeString(dir.resolve("Sink.scala"), Seq(
      "import org.apache.spark.sql.connector.write.{Write, WriteBuilder}",
      "object Sink {",
      "  def a(df: DataFrame): Unit = df.write.mode(\"overwrite\")",
      "    .parquet(\"/x\") // a table file",
      "  def b(df: DataFrame): Unit = df.write.format(\"parquet\").save(\"/y\")",
      "  def c(df: DataFrame): Unit =",
      "    df.write.options(" + constant + ").parquet(\"/z\")",
      "  def d(df: DataFrame): Unit = df.write.json(\"/j\")",
      "  def e(s: SparkSession, t: StructType) = v2bridge.stagedParquet" +
        "Writers(s, t,",
      "    Map.empty)",
      "  def r(s: SparkSession) = s.read.parquet(\"/x\")",
      "}").mkString("\n"))
    val writes = parquetWrites(dir)
    assert(writes.map(_._3) == Seq(false, false, true, false), writes)
  }
}
