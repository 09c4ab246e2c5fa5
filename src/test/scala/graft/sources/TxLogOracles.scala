package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.sources.DataSkipping.{ColRange, FileStats}

/** The spec oracles of the txlog staging write: what the staging tasks
  * gather in the same pass that writes the data, computed the long way
  * round with extra Spark jobs over the written files.
  */
object TxLogOracles {

  /** Per-file min/max/null-count ranges, Bloom filters and theta
    * sketches over a staged dir (`physSchema` and the column names are
    * physical) — one column-pruned census scan grouped by file, keyed
    * "dir/part-file" like the manifest. Files without rows have no
    * entry.
    */
  def censusStats(spark: SparkSession, t: TxLogTable, dirName: String,
      physSchema: StructType, statsCols: Seq[String],
      bloomCols: Seq[String] = Nil): Map[String, FileStats] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.bridge
    import org.apache.spark.sql.types.{LongType => SLong}
    val schema = physSchema
    val valid = statsCols.distinct.filter(c =>
      schema.fieldNames.contains(c) && DataSkipping.supported(schema(c).dataType))
    val validBloom = bloomCols.distinct.filter(c => schema.fieldNames.contains(c) &&
      DataSkipping.bloomSupported(schema(c).dataType))
    if (valid.isEmpty && validBloom.isEmpty) return Map.empty
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(StatsSpec.BloomItems, StatsSpec.BloomFpp)
    val aggs = Seq(count(lit(1L)).as("__rows")) ++
      valid.flatMap(c => Seq(
        min(col(c)).as(s"__min__$c"),
        max(col(c)).as(s"__max__$c"),
        count(col(c)).as(s"__nn__$c"))) ++
      validBloom.map { c =>
        val canon = schema(c).dataType match {
          case _: org.apache.spark.sql.types.StringType => col(c)
          case _ => col(c).cast(SLong)
        }
        bridge.column(new BloomFilterAggregate(
          bridge.expression(xxhash64(canon)),
          Literal(StatsSpec.BloomItems), Literal(numBits))
          .toAggregateExpression()).as(s"__bloom__$c")
      } ++
      valid.map { c =>
        bridge.column(graft.plans.ThetaSketchAgg(
          bridge.expression(col(c).cast("string")), lgK = 9)
          .toAggregateExpression()).as(s"__theta__$c")
      }
    val rows = spark.read.schema(schema)
      .parquet(t.stagedDirPath(dirName))
      .select(((valid ++ validBloom).distinct.map(col) :+
        input_file_name().as("__file")): _*)
      .groupBy(col("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    def b64(v: Any): String =
      java.util.Base64.getEncoder.encodeToString(v.asInstanceOf[Array[Byte]])
    rows.map { r =>
      val fname = new Path(r.getString(0)).getName
      val total = r.getLong(1)
      val cols = valid.zipWithIndex.map { case (c, i) =>
        val base = 2 + i * 3
        c -> ColRange(
          DataSkipping.encodeExternal(r.get(base)),
          DataSkipping.encodeExternal(r.get(base + 1)),
          total - r.getLong(base + 2))
      }.toMap
      val bloomBase = 2 + valid.length * 3
      val blooms = validBloom.zipWithIndex.flatMap { case (c, i) =>
        Option(r.get(bloomBase + i)).map(b => c -> b64(b))
      }.toMap
      val thetaBase = bloomBase + validBloom.length
      val thetas = valid.zipWithIndex.map { case (c, i) =>
        c -> b64(r.get(thetaBase + i))
      }.toMap
      s"$dirName/$fname" -> FileStats(total, cols, blooms, thetas)
    }.toMap
  }

  /** The change rows of a keyed write, by key presence between the
    * pre-commit rows `target` and the post-commit rows `newDf`,
    * restricted to the `touched` keys plus the duplicate-key groups of
    * `target`: old rows are `delete` or `update_preimage`, new rows
    * `insert` or `update_postimage`, as the other side lacks or holds
    * the key. Null keys never key-match.
    */
  def changeRows(target: DataFrame, newDf: DataFrame,
      touched: DataFrame, key: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val dupKeys = target.groupBy(key.map(target.col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
      .select(key.map(col): _*)
    val keys = touched.unionByName(dupKeys).distinct()
    val oldT = target.join(keys, key, "left_semi")
    val newT = newDf.join(keys, key, "left_semi")
    val oldKeys = oldT.select(key.map(oldT.col): _*).distinct()
    val newKeys = newT.select(key.map(newT.col): _*).distinct()
    val mark = "__other_side"
    oldT
        .join(newKeys.withColumn(mark, lit(true)), key, "left")
        .withColumn("_change_type",
          when(col(mark).isNull, "delete").otherwise("update_preimage"))
        .drop(mark)
      .unionByName(newT
        .join(oldKeys.withColumn(mark, lit(true)), key, "left")
        .withColumn("_change_type",
          when(col(mark).isNull, "insert").otherwise("update_postimage"))
        .drop(mark))
  }
}
