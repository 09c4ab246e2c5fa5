package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.footerBridge
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.StructType

import graft.operators.Upsert

/** Path-based parquet "table" with the reference's sink semantics
  * (SURVEY §2.1 S7-S10): existence-checked create, an insert-only
  * commit and an atomic overwrite for merge results.
  *
  * This is the log-free sink the `graft.jobs` DAGs write; graft's
  * transactional table format, with versioned commits and MERGE, is
  * [[TxLogTable]]. Here a merge that changes rows ([[overwriteAtomic]])
  * writes the post-merge state to a staging dir, then swaps directories
  * with two renames (SURVEY §7 "hard parts" #1); the swap window is the
  * non-transactional residue. An
  * insert-only merge ([[insertIgnore]]) writes just the new rows and
  * moves their files into the table dir, so no existing byte is
  * rewritten until enough small files pile up to compact them. Both need
  * a local POSIX directory (atomic rename).
  *
  * Layout policy at scale: callers pass `sortCols` so the written files
  * carry min/max-prunable layout on the reference's indexed columns
  * (the postcode secondary index of `initial_price_paid_data.py:86`
  * becomes sortWithinPartitions + parquet row-group stats). Under
  * insert-only commits each data file is sorted on its own.
  *
  * Reads take their schema from one footer read on the driver (see
  * [[ParquetTable.readDir]]), so building a DataFrame over the table
  * starts no Spark job.
  */
final class ParquetTable(spark: SparkSession, root: String) {

  private def dir: Path = Paths.get(root)

  def exists: Boolean = Files.exists(dir.resolve("_SUCCESS")) ||
    (Files.isDirectory(dir) && {
      // NIO directory streams hold an fd until closed — streaming
      // ingests call this per micro-batch, so leaks accumulate
      val s = Files.list(dir)
      try s.findFirst().isPresent finally s.close()
    })

  /** S7: existence-checked create (CREATE TABLE IF NOT EXISTS). */
  def ensureExists(schema: StructType): Unit = if (!exists) {
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode(SaveMode.Overwrite).options(TableFiles.parquetOptions)
      .parquet(root)
  }

  def read(): DataFrame = ParquetTable.readDir(spark, root)

  /** Atomic-ish overwrite: stage → double rename. Readers between the
    * two renames would miss the table; acceptable in batch-job context
    * (single writer, no concurrent readers during a DAG run).
    *
    * `markers` (filename → content) are written INTO the staging dir
    * before the swap, so they become visible exactly when the data
    * does — the commit-metadata hook exactly-once consumers need (a
    * batch id that travels atomically with the state it produced, see
    * [[marker]]).
    */
  def overwriteAtomic(df: DataFrame, sortCols: Seq[String] = Nil,
      markers: Map[String, String] = Map.empty): Unit = {
    val old = Paths.get(root + ".old")
    deleteRecursive(staging)
    sorted(df, sortCols).write.mode(SaveMode.Overwrite)
      .options(TableFiles.parquetOptions).parquet(staging.toString)
    markers.foreach { case (name, content) =>
      Files.writeString(staging.resolve(name), content)
    }
    deleteRecursive(old)
    if (Files.exists(dir)) Files.move(dir, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(staging, dir, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursive(old)
  }

  /** Insert-ignore commit, `INSERT ... ON CONFLICT (key) DO NOTHING`
    * (`monthly_price_paid_data.py:153`): the table afterwards equals
    * [[Upsert.insertIgnore]] of the table and `updates`. Only
    * [[Upsert.newRows]] are written, cast to the table's column types,
    * into the staging dir; their files are then moved into the table dir
    * one by one, so existing files stay as they are and a batch with no
    * new rows commits nothing. Readers during the moves may see part of
    * the batch, and a crash may leave part of it; a replay of the batch
    * adds the rest, since the rows already there conflict. Returns the
    * number of rows inserted, observed on the staging write.
    */
  def insertIgnore(updates: DataFrame, key: Seq[String],
      sortCols: Seq[String] = Nil): Long = {
    val current = read()
    val rows = Upsert.newRows(current, updates, key)
      .select(current.schema.map(f => col(f.name).cast(f.dataType)): _*)
    val inserted = Observation()
    deleteRecursive(staging)
    sorted(rows.observe(inserted, count(lit(1)).as("n")), sortCols)
      .write.mode(SaveMode.Overwrite).options(TableFiles.parquetOptions)
      .parquet(staging.toString)
    val n = inserted.get("n").asInstanceOf[Long]
    if (n > 0) dataFiles(staging).foreach { f =>
      // part-file names carry the writing job's id, so a staged name
      // never collides with a live one; the checksum goes first, so a
      // listed data file always has its .crc beside it
      val crc = f.resolveSibling(s".${f.getFileName}.crc")
      if (Files.exists(crc))
        Files.move(crc, dir.resolve(crc.getFileName), StandardCopyOption.ATOMIC_MOVE)
      Files.move(f, dir.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
    }
    deleteRecursive(staging)
    if (n > 0) compactIfFragmented(sortCols)
    n
  }

  /** Bounds the file count that insert-only commits leave behind. Once
    * the data files outnumber both the session's task slots and the
    * table's size in `spark.sql.files.openCostInBytes` units (Spark's
    * price of opening a file, in bytes read), the table is rewritten
    * into files of up to `spark.sql.files.maxPartitionBytes`, each sorted
    * by `sortCols`, with [[overwriteAtomic]].
    */
  private def compactIfFragmented(sortCols: Seq[String]): Unit = {
    val files = dataFiles(dir)
    val bytes = files.map(f => Files.size(f)).sum
    def conf(k: String) = JavaUtils.byteStringAsBytes(spark.conf.get(k))
    val limit = math.max(spark.sparkContext.defaultParallelism.toLong,
      bytes / conf("spark.sql.files.openCostInBytes"))
    if (files.size > limit) {
      val maxBytes = conf("spark.sql.files.maxPartitionBytes")
      overwriteAtomic(read().coalesce(((bytes + maxBytes - 1) / maxBytes).max(1L).toInt),
        sortCols)
    }
  }

  private def staging: Path = Paths.get(root + ".staging")

  /** The data files of dir `d`: the names Spark's listing reads. */
  private def dataFiles(d: Path): Seq[Path] = {
    val s = Files.list(d)
    try s.iterator().asScala.toList.filterNot { f =>
      val name = f.getFileName.toString
      name.startsWith("_") || name.startsWith(".")
    } finally s.close()
  }

  /** Content of marker file `name` in the committed table, if present. */
  def marker(name: String): Option[String] = {
    val p = dir.resolve(name)
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }

  private def sorted(df: DataFrame, sortCols: Seq[String]): DataFrame =
    if (sortCols.isEmpty) df
    else df.sortWithinPartitions(sortCols.map(df.col): _*)

  private def deleteRecursive(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))
    finally s.close()
  }
}

object ParquetTable {

  /** `spark.read.parquet(root)` without the schema-inference job.
    * Spark's inference with `mergeSchema=false` reads the footer of the
    * first data file (by path) in one Spark job; this reads the same
    * footer on the driver, converts it with Spark's own conversion under
    * the session's conf, and hands the result to the reader as the
    * schema. `root` is a directory of parquet files or a single file.
    * A missing path or a directory with no data file goes to the plain
    * reader, so the error is Spark's own.
    */
  def readDir(spark: SparkSession, root: String): DataFrame = {
    val conf = footerBridge.hadoopConf(spark)
    val path = new HPath(root)
    val fs = path.getFileSystem(conf)
    val first = scala.util.Try(fs.getFileStatus(path)).toOption.flatMap { st =>
      if (st.isFile) Some(st)
      else fs.listStatus(path)
        // the names Spark's file listing skips (_SUCCESS, .crc, ...)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
        .sortBy(_.getPath.toString)
        .headOption
    }
    first.flatMap(footerBridge.schema(spark, _, conf)) match {
      case Some(schema) => spark.read.schema(schema).parquet(root)
      case None => spark.read.parquet(root)
    }
  }
}
