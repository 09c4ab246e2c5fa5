package graft.sources

import java.nio.file.{Files, Path}
import java.nio.file.attribute.BasicFileAttributes

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkSpec
import graft.operators.Upsert

/** [[ParquetTable.insertIgnore]] pinned against [[Upsert.insertIgnore]]'s
  * frame, plus what the commit promises on disk: live files stay in
  * place; a no-op replay touches nothing; small files are compacted
  * before they outnumber the task slots; a failed write leaves the
  * table as it was.
  */
class ParquetInsertSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", StringType, nullable = true),
    StructField("v", LongType, nullable = false),
    StructField("p", StringType, nullable = true)))

  private def frame(rows: Seq[(String, Long, String)]): DataFrame =
    spark.createDataFrame(
      rows.map { case (k, v, p) => Row(k, v, p) }.asJava, schema)

  /** A table at `<tmp>/t`, created and holding `rows`. */
  private def fresh(rows: (String, Long, String)*): (ParquetTable, Path) = {
    val root = Files.createTempDirectory("pqinsert").resolve("t")
    val t = new ParquetTable(spark, root.toString)
    t.ensureExists(schema)
    if (rows.nonEmpty) t.insertIgnore(frame(rows), Seq("k"))
    (t, root)
  }

  private def contents(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Every entry of a dir: name → file key (the inode on POSIX). */
  private def listing(dir: Path): Map[String, AnyRef] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map((f: Path) => f.getFileName.toString ->
      Files.readAttributes(f, classOf[BasicFileAttributes]).fileKey()).toMap
    finally s.close()
  }

  test("seeded random batches give Upsert.insertIgnore's frame") {
    Seq(7L, 8L, 9L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val (t, _) = fresh()
      var oracle = frame(Nil)
      (1 to 4).foreach { b =>
        // keys from a small domain, so batches repeat keys in-batch and
        // hit keys already in the table; null keys never conflict. A
        // key's row is a function of (key, batch): in-batch duplicates
        // are interchangeable, and a conflict shows as the wrong batch.
        val keys = Seq.fill(6 + rnd.nextInt(6)) {
          if (rnd.nextInt(8) == 0) null else s"k${rnd.nextInt(12)}"
        }
        val batch = frame(keys.map(k =>
          (k, b.toLong, if (k == null) s"null-$b" else s"$k-$b")))
        val expected = Upsert.insertIgnore(oracle, batch, Seq("k"))
          .localCheckpoint()
        val n = t.insertIgnore(batch, Seq("k"), sortCols = Seq("p"))
        assert(contents(t.read()) == contents(expected), s"seed $seed batch $b")
        assert(n == expected.count() - oracle.count(), s"seed $seed batch $b")
        oracle = expected
      }
    }
  }

  test("live data files keep their file key across a commit") {
    val (t, root) = fresh(("a", 1L, "x"), ("b", 2L, "y"))
    // data files and their .crc files; the commit writes its own _SUCCESS
    val before = listing(root).filter { case (n, _) =>
      !n.startsWith("_") && !n.startsWith("._") }
    assert(t.insertIgnore(frame(Seq(("c", 3L, "z"), ("a", 9L, "w"))), Seq("k")) == 1L)
    val after = listing(root)
    before.foreach { case (name, key) =>
      assert(after.get(name).contains(key), name)
    }
    assert(after.size > before.size)
    assert(contents(t.read()) == Seq("[a,1,x]", "[b,2,y]", "[c,3,z]"))
  }

  test("a replay with no new rows leaves the table dir untouched") {
    val (t, root) = fresh(("a", 1L, "x"), ("b", 2L, "y"))
    val before = listing(root)
    assert(t.insertIgnore(frame(Seq(("a", 5L, "q"), ("b", 6L, "r"))), Seq("k")) == 0L)
    assert(listing(root) == before)
    assert(listing(root.getParent).keySet == Set("t")) // no staging dir left
  }

  test("many small commits are compacted into sorted files") {
    val (t, root) = fresh()
    val slots = spark.sparkContext.defaultParallelism
    val rows = (1 to 3 * slots).map(i => (f"k$i%02d", i.toLong, s"p${(i * 7) % 5}"))
    rows.foreach { r =>
      assert(t.insertIgnore(frame(Seq(r)), Seq("k"), sortCols = Seq("p")) == 1L)
      val data = listing(root).keySet.filterNot(n => n.startsWith("_") || n.startsWith("."))
      assert(data.size <= slots, data)
      data.foreach { name =>
        val ps = ParquetTable.readDir(spark, root.resolve(name).toString)
          .select("p").collect().map(_.getString(0)).toSeq
        assert(ps == ps.sorted, name)
      }
    }
    assert(contents(t.read()) == contents(frame(rows)))
  }

  test("a failed staging write leaves the table readable and unchanged") {
    val (t, root) = fresh(("a", 1L, "x"))
    val before = listing(root)
    // repartitioned, so the error is raised in the write's tasks, not
    // folded into the local relation while planning
    val failing = frame(Seq(("b", 2L, "y"), ("boom", 3L, "z"))).repartition(2)
      .withColumn("v", when(col("k") === "boom", raise_error(lit("boom")))
        .otherwise(col("v")))
    intercept[Exception](t.insertIgnore(failing, Seq("k")))
    assert(listing(root) == before)
    assert(contents(t.read()) == Seq("[a,1,x]"))
    // and the next commit goes through
    assert(t.insertIgnore(frame(Seq(("b", 2L, "y"))), Seq("k")) == 1L)
    assert(contents(t.read()) == Seq("[a,1,x]", "[b,2,y]"))
  }
}
