package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import graft.SparkSpec
import graft.functions.ParquetFooter

/** Every table file graft writes is zstd Parquet, whatever the session's
  * `spark.sql.parquet.compression.codec` says: txlog data and change
  * files of each commit kind, the stats checkpoint, and `ParquetTable`
  * files. The codec is read from each file's footer with
  * [[ParquetFooter]]. A user's own `df.write.parquet` keeps the
  * session's codec. Tables written before the change hold snappy
  * files; they read back unchanged, time travel and the change feed
  * included, and their next compaction writes zstd.
  */
class TableFilesCodecSpec extends SparkSpec {
  private implicit val fmts: Formats = DefaultFormats
  private val CodecConf = "spark.sql.parquet.compression.codec"

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType),
    StructField("amount", DoubleType)))

  private def frame(rows: (Long, String, Double)*): DataFrame =
    spark.createDataFrame(
      rows.map { case (id, n, a) => Row(id, n, a) }.asJava, schema)

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** The Parquet data files under `root`: the names a reader lists. */
  private def parquetFiles(root: Path): Set[Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && n.endsWith(".parquet") &&
        !n.startsWith(".") && !n.startsWith("_")
    }.toSet finally walk.close()
  }

  private def codecs(f: Path): Set[String] =
    ParquetFooter.footer(Files.readAllBytes(f)).get
      .rowGroups.flatMap(_.columns.map(_.codec)).toSet

  /** Every column chunk of every file in `files` is `codec`; at least
    * one file has rows.
    */
  private def assertCodec(what: String, files: Iterable[Path],
      codec: String): Unit = {
    assert(files.nonEmpty, s"$what: no file")
    files.foreach(f => assert(codecs(f).subsetOf(Set(codec)),
      s"$what: $f has ${codecs(f)}"))
    assert(files.exists(f => codecs(f) == Set(codec)), s"$what: no rows")
  }

  private def manifest(root: String, v: Long): TxLogTable.Manifest =
    Serialization.read[TxLogTable.Manifest](new String(
      Files.readAllBytes(Paths.get(root, "_log", f"$v%020d.json")),
      StandardCharsets.UTF_8))

  /** The files of the data and change dirs version `v` added. */
  private def filesOf(t: TxLogTable, v: Long): (Set[Path], Set[Path]) = {
    val m = manifest(t.root, v)
    val prev = if (v == 0) Set.empty[String]
      else manifest(t.root, v - 1).add.toSet
    def in(dirs: Seq[String]) = dirs.flatMap(d =>
      parquetFiles(Paths.get(t.root, "data", d.takeWhile(_ != '/')))).toSet
    (in(m.add.filterNot(prev.contains)), in(m.cdc.getOrElse(Nil)))
  }

  private def withSessionCodec(codec: Option[String])(body: => Unit): Unit = {
    val old = spark.conf.getOption(CodecConf)
    codec.foreach(spark.conf.set(CodecConf, _))
    try body
    finally old match {
      case Some(o) => spark.conf.set(CodecConf, o)
      case None => spark.conf.unset(CodecConf)
    }
  }

  for ((codec, pass) <- Seq(None, Some("snappy")).zipWithIndex)
  test(s"txlog files are zstd (session codec ${codec.getOrElse("unset")})") {
    withSessionCodec(codec) {
      val t = new TxLogTable(spark,
        Files.createTempDirectory("codec_txlog").toString)
      t.ensureExists(schema)
      val stats = Seq("id", "amount")
      val va = t.append(frame((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5),
        (4L, "d", 4.5)).repartition(2), statsCols = stats)
      assertCodec("append", filesOf(t, va)._1, "ZSTD")
      val vm = t.merge(frame((2L, "b2", 20.0), (5L, "e", 5.5)), Seq("id"),
        Seq(col("amount").desc), statsCols = stats)
      val (mData, mChange) = filesOf(t, vm)
      assertCodec("merge data", mData, "ZSTD")
      assertCodec("merge change", mChange, "ZSTD")
      val vc = t.mergeConditional(frame((1L, "gone", -1.0), (4L, "d2", 40.0),
        (6L, "f", 6.5)), Seq("id"), Seq(
          TxLogTable.MatchedDelete(Some("s.amount < 0")),
          TxLogTable.MatchedUpdate(None)), statsCols = stats)
      val (cData, cChange) = filesOf(t, vc)
      assertCodec("conditional merge data", cData, "ZSTD")
      assertCodec("conditional merge change", cChange, "ZSTD")
      val vd = t.delete(col("id") === 5L, statsCols = stats)
      assertCodec("delete", filesOf(t, vd)._1, "ZSTD")
      val vk = t.checkpoint()
      val ckpt = Paths.get(t.root, "_log", manifest(t.root, vk).statsFile.get)
      assertCodec("stats checkpoint", parquetFiles(ckpt), "ZSTD")
      val vz = t.compact(1000L)
      assertCodec("compaction", filesOf(t, vz)._1, "ZSTD")
      assert(sorted(t.read()) == Seq("[2,b2,20.0]", "[3,c,3.5]",
        "[4,d2,40.0]", "[6,f,6.5]"))

      // the V2 writes of a catalog table: INSERT INTO and a stream batch
      val cat = s"codeclake$pass"
      val catRoot = Files.createTempDirectory("codec_cat").toString
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[TxLogCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", catRoot)
      spark.sql(s"CREATE TABLE $cat.t (id BIGINT, name STRING, " +
        "amount DOUBLE) USING txlog")
      spark.sql(s"INSERT INTO $cat.t VALUES (1, 'a', 1.5), (2, 'b', 2.5)")
      val ct = new TxLogTable(spark, s"$catRoot/t")
      assertCodec("INSERT INTO", filesOf(ct, ct.currentVersion)._1, "ZSTD")
      val src = Files.createTempDirectory("codec_src").toString
      frame((3L, "c", 3.5)).coalesce(1).write.parquet(s"$src/f0")
      val q = spark.readStream.schema(schema).parquet(src + "/*")
        .writeStream
        .option("checkpointLocation",
          Files.createTempDirectory("codec_ck").toString)
        .trigger(Trigger.AvailableNow()).toTable(s"$cat.t")
      q.awaitTermination(120000)
      q.exception.foreach(e => fail(s"stream failed: ${e.cause}", e))
      assertCodec("stream batch", filesOf(ct, ct.currentVersion)._1, "ZSTD")
      assert(sorted(ct.read()) == Seq("[1,a,1.5]", "[2,b,2.5]", "[3,c,3.5]"))
      // the stream's own input was a user's write: the session's codec
      assertCodec("user write", parquetFiles(Paths.get(src)), "SNAPPY")
    }
  }

  for (codec <- Seq(None, Some("snappy")))
  test("ParquetTable files are zstd " +
      s"(session codec ${codec.getOrElse("unset")})") {
    withSessionCodec(codec) {
      val root = Files.createTempDirectory("codec_pq").resolve("t")
      val t = new ParquetTable(spark, root.toString)
      t.ensureExists(schema)
      // an empty table's file has no row group, so no chunk records a
      // codec; Spark names the file after it
      assert(parquetFiles(root).nonEmpty && parquetFiles(root).forall(f =>
        f.getFileName.toString.endsWith(".zstd.parquet") && codecs(f).isEmpty))
      assert(t.insertIgnore(frame((1L, "a", 1.5)), Seq("id")) == 1L)
      assertCodec("insertIgnore", parquetFiles(root), "ZSTD")
      t.overwriteAtomic(frame((1L, "a", 1.5), (2L, "b", 2.5)))
      assertCodec("overwriteAtomic", parquetFiles(root), "ZSTD")
      val slots = spark.sparkContext.defaultParallelism
      (3 to slots + 3).foreach(i =>
        t.insertIgnore(frame((i.toLong, s"n$i", i * 1.5)), Seq("id")))
      // the single-row files outnumbered the slots and were compacted
      assert(parquetFiles(root).size <= slots)
      assertCodec("compactIfFragmented", parquetFiles(root), "ZSTD")
      assert(t.read().count() == slots + 3L)
    }
  }

  test("a ParquetTable of snappy files reads unchanged, and its next " +
      "compaction writes zstd") {
    val root = Files.createTempDirectory("codec_old_pq").resolve("t")
    val old = (1L to 3L).map(i => (i, s"n$i", i * 0.5))
    frame(old: _*).repartition(2).write.parquet(root.toString)
    assertCodec("old table", parquetFiles(root), "SNAPPY")
    val t = new ParquetTable(spark, root.toString)
    assert(sorted(t.read()) == sorted(frame(old: _*)))
    val slots = spark.sparkContext.defaultParallelism
    val added = (4L to slots + 4L).map(i => (i, s"n$i", i * 0.5))
    added.foreach(r => assert(t.insertIgnore(frame(r), Seq("id")) == 1L))
    assert(sorted(t.read()) == sorted(frame(old ++ added: _*)))
    assertCodec("compacted", parquetFiles(root), "ZSTD")
  }

  test("a txlog table written with snappy files reads unchanged: time " +
      "travel, the change feed, and zstd commits after it") {
    val root = Files.createTempDirectory("codec_old_txlog").resolve("t")
    val fixture = Paths.get("src/test/resources/txlog_snappy")
    val walk = Files.walk(fixture)
    try walk.iterator().asScala.foreach { f =>
      val to = root.resolve(fixture.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(to)
      else Files.copy(f, to)
    } finally walk.close()
    assertCodec("fixture", parquetFiles(root), "SNAPPY")
    val t = new TxLogTable(spark, root.toString)
    assert(t.currentVersion == 4L)
    val v1 = Seq("[1,a,1.5]", "[2,b,2.5]", "[3,c,3.5]", "[4,d,4.5]")
    val v2 = Seq("[1,a,1.5]", "[2,b2,20.0]", "[3,c,3.5]", "[4,d,4.5]",
      "[5,e,5.5]")
    val v3 = Seq("[1,a,1.5]", "[2,b2,20.0]", "[4,d,4.5]", "[5,e,5.5]")
    def atVersions(): Unit = {
      assert(t.readAt(0L).count() == 0L)
      assert(sorted(t.readAt(1L)) == v1)
      assert(sorted(t.readAt(2L)) == v2)
      assert(sorted(t.readAt(3L)) == v3)
      assert(sorted(t.readAt(4L)) == v3)
      assert(sorted(t.changes(0L, 4L).drop("_commit_version")) == Seq(
        "[1,a,1.5,insert]", "[2,b,2.5,insert]", "[2,b,2.5,update_preimage]",
        "[2,b2,20.0,update_postimage]", "[3,c,3.5,delete]",
        "[3,c,3.5,insert]", "[4,d,4.5,insert]", "[5,e,5.5,insert]"))
      assert(sorted(t.changeFeed(0L, 4L).drop("_commit_version")) == Seq(
        "[1,a,1.5]", "[2,b,2.5]", "[2,b2,20.0]", "[3,c,3.5]", "[4,d,4.5]",
        "[5,e,5.5]"))
      assert(t.readWhereAt(4L, col("id") === 4L).count() == 1L)
    }
    atVersions()
    val va = t.append(frame((7L, "g", 7.5)), statsCols = Seq("id", "amount"))
    assertCodec("append after snappy", filesOf(t, va)._1, "ZSTD")
    assert(sorted(t.changeFeed(4L, va).drop("_commit_version")) ==
      Seq("[7,g,7.5]"))
    val vz = t.compact(1000L)
    assertCodec("compaction after snappy",
      t.liveDataPaths(vz).map(Paths.get(_)).flatMap(parquetFiles), "ZSTD")
    assert(sorted(t.read()) == (v3 :+ "[7,g,7.5]").sorted)
    atVersions()
  }
}
