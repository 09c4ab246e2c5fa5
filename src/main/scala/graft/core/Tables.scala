package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.sources.ParquetTable

/** Loaders for the fixture tables (FIXTURES.md §A). Each schema comes
  * from one footer read on the driver ([[ParquetTable.readDir]]), so
  * building a table's DataFrame starts no Spark job; column pruning +
  * predicate pushdown reach the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    ParquetTable.readDir(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.parquet` stores `ts` as TIMESTAMP(NANOS), which Spark's
    * parquet reader rejects; sessions set
    * `spark.sql.legacy.parquet.nanosAsLong=true` (see [[Sessions]]) so it
    * arrives as a nanos-since-epoch long. Normalized here to a proper
    * TimestampType `ts` (µs truncation — Spark's native precision) plus
    * the raw `ts_ns` long for full-fidelity ordering.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ =>
        // µs-precision parquet without isAdjustedToUTC arrives as
        // TIMESTAMP_NTZ (inferTimestampNTZ default); sessions run UTC,
        // so the cast to instant-typed TIMESTAMP is value-preserving —
        // and unix_micros accepts only the instant type.
        val asTs = col("ts").cast("timestamp")
        raw.withColumn("ts", asTs)
          .withColumn("ts_ns", unix_micros(asTs) * 1000)
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
