package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Package-private bridge: Spark's footer → schema conversion
  * (`ParquetFileFormat.readSchema`) is `private[parquet]`, and the
  * session's Hadoop conf is `private[sql]`. This shim re-exports the
  * two so [[graft.sources.ParquetTable.readDir]] can take a schema from
  * one footer on the driver, exactly as Spark's own inference does with
  * `mergeSchema=false`, without the Spark job inference launches for it.
  */
object footerBridge {

  /** The Hadoop conf Spark's file reads use: the context's conf plus
    * the session's SQL conf entries.
    */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()

  /** The Spark schema of one parquet data file, read from its footer
    * under the session's conf (binary-as-string, INT96, NTZ inference,
    * nanos-as-long, the stored Spark row metadata).
    */
  def schema(spark: SparkSession, file: FileStatus,
      conf: Configuration): Option[StructType] = {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchema(Seq(new Footer(file.getPath, meta)), spark)
  }
}
