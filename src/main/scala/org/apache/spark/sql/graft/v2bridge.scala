package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.internal.connector.PredicateUtils
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `private[sql]` seams the DataSource-V2 txlog path needs (same
  * pattern as [[bridge]]): Spark's parquet V2 scan machinery reused as
  * the execution half of a custom `Batch`, V2→V1 predicate
  * conversion, and catalog-stat string decoding. Everything here is a
  * thin re-export — no logic — so the engine's own code stays in the
  * `graft` namespace.
  */
object v2bridge {

  /** Spark's own parquet V2 scan over an EXPLICIT file list — the
    * execution half of the txlog DSv2 `Batch`
    * ([[graft.sources.TxLogBatchScan]]): the manifest layer decides
    * WHICH files (static manifest pruning ∩ runtime filters), this
    * scan turns them into vectorized, split-aware `InputPartition`s
    * exactly as a native parquet read would (maxPartitionBytes
    * splitting, columnar batches, row-group pushdown of `filters`).
    *
    * `dataSchema`/`readSchema`/`filters` are all in PHYSICAL (on-file)
    * column names; the caller owns the logical↔physical mapping.
    */
  def parquetScan(spark: SparkSession, paths: Seq[String],
      dataSchema: StructType, readSchema: StructType,
      filters: Array[Filter]): Scan = {
    val index = new InMemoryFileIndex(spark, paths.map(new Path(_)),
      Map.empty[String, String], Some(dataSchema),
      FileStatusCache.getOrCreate(spark), None, None)
    ParquetScan(spark, spark.sessionState.newHadoopConf(), index,
      dataSchema, readSchema, new StructType(), filters,
      CaseInsensitiveStringMap.empty(), None, Nil, Nil)
  }

  /** V2 `Predicate` → V1 `Filter`, when an exact translation exists. */
  def toV1Filter(p: Predicate): Option[Filter] = PredicateUtils.toV1(p)

  /** Re-group a file scan's planned partitions into WHOLE-FILE
    * partitions, one per file — the shape the DV-aware txlog scan
    * needs: its reader counts rows to recover `row_index`, which is
    * only the running count when each task reads one complete file in
    * order (no splits, and the caller passes no pushed filters so no
    * row group is skipped). Returns (file path, partition) pairs;
    * split metadata (size, locations, partition values) carries over
    * from the scan's own planning.
    */
  def wholeFilePartitions(scan: Scan)
      : Seq[(String, org.apache.spark.sql.connector.read.InputPartition)] = {
    import org.apache.spark.sql.execution.datasources.FilePartition
    val splits = scan.toBatch.planInputPartitions().iterator.flatMap {
      case fp: FilePartition => fp.files
      case other => throw new IllegalStateException(
        s"expected FilePartition from a parquet scan, got $other")
    }.toSeq
    splits.groupBy(_.filePath.toString).toSeq.sortBy(_._1).zipWithIndex
      .map { case ((path, pfs), i) =>
        val whole = pfs.head.copy(start = 0L, length = pfs.head.fileSize)
        (path, FilePartition(i, Array(whole)))
      }
  }

  /** The output schema Spark expects for a pushed aggregation — the
    * same contract the built-in parquet/ORC aggregate pushdown uses
    * (`AggregatePushDownUtils`); None when the aggregation shape is
    * unsupported by that contract.
    */
  def pushedAggSchema(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
      schema: StructType,
      groupableCols: Set[String] = Set.empty): Option[StructType] =
    org.apache.spark.sql.execution.datasources.AggregatePushDownUtils
      .getSchemaForPushedAggregation(agg, schema, groupableCols, Nil)

  /** One executor-side staged-file writer (see
    * [[StagedParquetWriters.open]]).
    */
  trait StagedRowWriter {
    def write(r: org.apache.spark.sql.catalyst.InternalRow): Unit
    def close(): Unit
  }

  /** Serializable provider of executor-side parquet writers — the
    * execution half of the txlog NATIVE V2 write: Spark's own
    * `ParquetFileFormat.prepareWrite` output factory (the writer
    * options given, then the session's parquet confs) opened
    * directly at staged-file paths. The commit protocol above it is
    * the txlog manifest commit, not a Hadoop committer — staged files
    * are invisible (dot-prefixed) until the task commit renames them,
    * and the dir is inert until a manifest references it.
    */
  final class StagedParquetWriters private[graft] (
      factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
      conf: org.apache.spark.util.SerializableConfiguration,
      val schema: StructType) extends Serializable {

    def open(path: String, partitionId: Int, taskId: Long): StagedRowWriter = {
      import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
      val attempt = new TaskAttemptID(
        new TaskID(new JobID("graft-txlog-write", 0), TaskType.MAP,
          partitionId),
        (taskId % Int.MaxValue).toInt)
      val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        conf.value, attempt)
      val w = factory.newInstance(path, schema, ctx)
      new StagedRowWriter {
        override def write(r: org.apache.spark.sql.catalyst.InternalRow)
            : Unit = w.write(r)
        override def close(): Unit = w.close()
      }
    }

    def rename(from: String, to: String): Boolean = {
      val p = new Path(from)
      p.getFileSystem(conf.value).rename(p, new Path(to))
    }

    def length(path: String): Long = {
      val p = new Path(path)
      p.getFileSystem(conf.value).getFileStatus(p).getLen
    }

    def delete(path: String): Unit = {
      val p = new Path(path)
      p.getFileSystem(conf.value).delete(p, false)
      ()
    }
  }

  def stagedParquetWriters(spark: SparkSession, schema: StructType,
      options: Map[String, String]): StagedParquetWriters = {
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConf())
    val factory = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat().prepareWrite(spark, job, options, schema)
    new StagedParquetWriters(factory,
      new org.apache.spark.util.SerializableConfiguration(
        job.getConfiguration), schema)
  }

  /** Write `df` through Spark's DataSource-V2 append protocol into
    * `factory`'s writers and return the task commit messages, in
    * partition order. The frame is the child of an `AppendData` over a
    * write-only table, so the rows reach the writers through
    * `DataWritingSparkTask`: one write job, output-commit coordination,
    * and task abort on failure. A failed job throws after the writers
    * of every failed task attempt aborted; cleaning the staged dir is
    * the caller's.
    */
  def stageWrite(df: org.apache.spark.sql.DataFrame,
      factory: org.apache.spark.sql.connector.write.DataWriterFactory)
      : Array[org.apache.spark.sql.connector.write.WriterCommitMessage] = {
    import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table,
      TableCapability}
    import org.apache.spark.sql.connector.write.{BatchWrite,
      LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder,
      WriterCommitMessage}
    @volatile var committed: Array[WriterCommitMessage] = null
    val batch = new BatchWrite {
      override def createBatchWriterFactory(info: PhysicalWriteInfo) = factory
      override def commit(messages: Array[WriterCommitMessage]): Unit =
        committed = messages
      override def abort(messages: Array[WriterCommitMessage]): Unit = ()
    }
    val table = new Table with SupportsWrite {
      override def name(): String = "txlog staging"
      // nullable, so the optimizer may widen the frame's nullability
      // (the output check of AppendData compares the two)
      override def schema(): StructType = df.schema.asNullable
      override def capabilities(): java.util.Set[TableCapability] =
        java.util.EnumSet.of(TableCapability.BATCH_WRITE)
      override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
        new WriteBuilder {
          override def build(): Write = new Write {
            override def toBatch: BatchWrite = batch
          }
        }
    }
    val relation = org.apache.spark.sql.execution.datasources.v2
      .DataSourceV2Relation.create(table, None, None)
    bridge.ofRows(df.sparkSession,
      org.apache.spark.sql.catalyst.plans.logical.AppendData.byPosition(
        relation, df.queryExecution.analyzed))
    committed
  }

  /** The ordering Spark's `min`/`max` aggregates compare `dt` values
    * by (NaN above every double, binary string order).
    */
  def ordering(dt: DataType): Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dt)

  /** Decode a stats string in `CatalogColumnStat.fromExternalString`
    * version-2 format (the encoding the txlog manifest stores) into
    * the CATALYST value the V2 `ColumnStatistics` interface expects
    * for min/max.
    */
  def statFromExternalString(s: String, name: String, dt: DataType): Any =
    org.apache.spark.sql.catalyst.catalog.CatalogColumnStat
      .fromExternalString(s, name, dt, 2)
}
