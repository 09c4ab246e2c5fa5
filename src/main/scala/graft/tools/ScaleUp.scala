package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Sessions, Tables}

/** Builds an sf1-scale fixture set by key-shifted replication of sf0.1
  * (the driver's generator isn't available and /root/testdata is
  * read-only): N copies of each table with all primary/foreign keys
  * offset per copy, so join cardinalities and key distributions scale
  * linearly and FK integrity holds copy-internally. Embeddings get a
  * per-copy first-component nudge so copies aren't bit-identical
  * vectors. Used only for the scaling-curve measurement recorded in
  * BASELINE.md — never for correctness oracles.
  *
  * Usage: runMain graft.tools.ScaleUp <outDir> [copies]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/sf1")
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    val src = "/root/testdata/sf0.1"
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String) = Tables.load(spark, src, t)

    // big offset (1e9) keeps copy key-spaces disjoint for every table
    val off = 1000000000L
    def replicate(df: DataFrame, keyCols: Seq[String],
        extra: (DataFrame, Long) => DataFrame = (d, _) => d): DataFrame =
      (0 until copies).map { k =>
        val shifted = keyCols.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(k * off)))
        extra(shifted, k.toLong)
      }.reduce(_ unionByName _)

    val plans: Seq[(String, DataFrame)] = Seq(
      "region" -> read("region"),
      "nation" -> read("nation"),
      "customer" -> replicate(read("customer"), Seq("c_custkey")),
      "supplier" -> replicate(read("supplier"), Seq("s_suppkey")),
      "part" -> replicate(read("part"), Seq("p_partkey")),
      "orders" -> replicate(read("orders"), Seq("o_orderkey", "o_custkey")),
      "lineitem" -> replicate(read("lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey")),
      "events" -> replicate(read("events"), Seq("event_id", "user_id")),
      "documents" -> replicate(read("documents"), Seq("doc_id")),
      "embeddings" -> replicate(read("embeddings"), Seq("vec_id"),
        (d, k) => d.withColumn("embedding",
          transform(col("embedding"), (x, i) =>
            when(i === 0, x + lit(k.toFloat * 1e-3f)).otherwise(x)))))

    plans.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name -> $out/$name.parquet")
    }
    spark.stop()
  }
}
