package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed catalog tables for shuffle-free co-located joins (the
  * builder brief's "repartition/bucketing for co-located joins").
  *
  * Writing both sides of a hot join bucketed by the join key into the
  * session catalog lets every subsequent equi-join on that key skip the
  * exchange entirely — at 100 TB the fact-table shuffle IS the
  * dominant cost of repeated joins, and bucketing amortizes it to
  * write time. (Parquet path tables can't carry bucket metadata; this
  * is the one surface that must go through the catalog.)
  */
object BucketedTable {

  /** Save `df` as a bucketed managed table (overwrites). */
  def save(df: DataFrame, table: String, bucketCols: Seq[String],
      buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    var w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .options(TableFiles.parquetOptions)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    if (sortCols.nonEmpty) w = w.sortBy(sortCols.head, sortCols.tail: _*)
    w.saveAsTable(table)
  }

  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)
}
