package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Hive-style partitioned parquet table — the 100 TB layout policy for
  * time/category-keyed facts: directory partitions prune at planning
  * time (`PartitionFilters` in the scan, untouched partitions are never
  * listed), and partition-scoped dynamic overwrite gives idempotent
  * backfill/replay — re-running a logical date replaces exactly that
  * date's partitions and nothing else (the at-scale analogue of the
  * reference's per-month delete-and-reinsert,
  * `monthly_price_paid_data.py:131-153`).
  *
  * Complements [[ParquetTable]] (unpartitioned, whole-table atomic
  * swap) and [[BucketedTable]] (co-located join layout).
  */
final class PartitionedTable(
    spark: SparkSession,
    root: String,
    partitionCols: Seq[String]) {

  require(partitionCols.nonEmpty, "use ParquetTable for unpartitioned data")

  /** Full (re)write of the table in the partitioned layout; `sortCols`
    * gives min/max-prunable row-group order within files.
    */
  def write(df: DataFrame, sortCols: Seq[String] = Nil): Unit =
    sorted(df, sortCols).write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).options(TableFiles.parquetOptions)
      .parquet(root)

  /** S8 at scale: append lands new files only in the partitions the
    * batch touches.
    */
  def append(df: DataFrame, sortCols: Seq[String] = Nil): Unit =
    sorted(df, sortCols).write.mode(SaveMode.Append)
      .partitionBy(partitionCols: _*).options(TableFiles.parquetOptions)
      .parquet(root)

  /** Idempotent partition replay: dynamic partition overwrite replaces
    * ONLY the partitions present in `df`; all other partitions keep
    * their files (no full-table rewrite, no whole-table swap window).
    */
  def overwritePartitions(df: DataFrame, sortCols: Seq[String] = Nil): Unit =
    sorted(df, sortCols).write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).options(TableFiles.parquetOptions)
      .parquet(root)

  def read(): DataFrame = spark.read.parquet(root)

  private def sorted(df: DataFrame, sortCols: Seq[String]): DataFrame =
    if (sortCols.isEmpty) df
    else df.sortWithinPartitions(sortCols.map(df.col): _*)
}
