package graft.sources

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** S14 — the reference's `JsonToCsvTransformerOperator` plugin stub
  * (`plugins/file_transformer_plugin.py:5-13`, body is a `print`), made
  * real: schema-applied JSON → CSV (and back), the trivial case of the
  * engine's general format-conversion surface.
  */
object FormatConvert {

  /** JSON lines → headered CSV. Explicit schema (never inference) per
    * the engine's schema policy; pass `null` schema only for ad-hoc use.
    */
  def jsonToCsv(spark: SparkSession, inPath: String, outPath: String,
      schema: StructType = null): Unit = {
    val reader = spark.read
    val df = (if (schema != null) reader.schema(schema) else reader).json(inPath)
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(outPath)
  }

  /** Headered CSV → JSON lines. */
  def csvToJson(spark: SparkSession, inPath: String, outPath: String,
      schema: StructType = null): Unit = {
    val reader = spark.read.option("header", "true")
    val df = (if (schema != null) reader.schema(schema) else reader).csv(inPath)
    df.write.mode(SaveMode.Overwrite).json(outPath)
  }

  /** Columnar ↔ columnar: parquet → ORC (ORC is in-box in Spark; Avro
    * needs the external spark-avro module, absent here). Schema rides
    * along: parquet inputs are read through [[ParquetTable.readDir]],
    * which takes it from one footer without an inference job.
    */
  def parquetToOrc(spark: SparkSession, inPath: String, outPath: String): Unit =
    ParquetTable.readDir(spark, inPath).write.mode(SaveMode.Overwrite).orc(outPath)

  /** ORC → parquet. */
  def orcToParquet(spark: SparkSession, inPath: String, outPath: String): Unit =
    spark.read.orc(inPath).write.mode(SaveMode.Overwrite)
      .options(TableFiles.parquetOptions).parquet(outPath)

  /** Whether the external spark-avro module is on the classpath. Avro
    * is NOT in-box in Spark (unlike ORC/parquet/CSV/JSON): deployments
    * add `org.apache.spark:spark-avro_2.13` explicitly. Detection
    * mirrors DataSource.lookupDataSource's first step — a
    * DataSourceRegister SERVICE registration under short name "avro".
    * (Merely finding an avro class is not enough: Spark 4's spark-sql
    * jar carries avro support classes for from_avro/to_avro, but the
    * format lookup still requires the module's service entry.)
    */
  def avroAvailable: Boolean =
    try {
      val it = java.util.ServiceLoader.load(
        classOf[org.apache.spark.sql.sources.DataSourceRegister],
        getClass.getClassLoader).iterator()
      var found = false
      while (!found && it.hasNext) {
        // a broken provider on the classpath must not mask the answer
        found = try it.next().shortName() == "avro"
        catch { case _: Throwable => false }
      }
      found
    } catch { case _: Throwable => false }

  /** Parquet → Avro. The spark-avro module when a deployment ships it
    * (full logical-type mapping, splittable reads); otherwise the
    * in-box [[AvroTables]] bridge on the plain Avro Java library — so
    * the conversion RUNS everywhere, including this zero-egress
    * sandbox, rather than detect-and-refuse.
    */
  def parquetToAvro(spark: SparkSession, inPath: String, outPath: String): Unit =
    if (avroAvailable)
      ParquetTable.readDir(spark, inPath).write.mode(SaveMode.Overwrite)
        .format("avro").save(outPath)
    else AvroTables.write(ParquetTable.readDir(spark, inPath), outPath)

  /** Avro → parquet. Same dispatch as [[parquetToAvro]]. */
  def avroToParquet(spark: SparkSession, inPath: String, outPath: String): Unit = {
    val df =
      if (avroAvailable) spark.read.format("avro").load(inPath)
      else AvroTables.read(spark, inPath)
    df.write.mode(SaveMode.Overwrite).options(TableFiles.parquetOptions)
      .parquet(outPath)
  }
}
