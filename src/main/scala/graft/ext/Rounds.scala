package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** Steps shared by the iterative operators' rounds. */
object Rounds {

  /** `df` eagerly `localCheckpoint`ed, with `metrics` observed on the
    * checkpoint job itself (guide §1.2), so a round's convergence
    * scalar costs no Spark job of its own. `prefix` names the metrics.
    */
  def checkpointObserved(df: DataFrame, prefix: String,
      metrics: Column*): (DataFrame, Row) = {
    val name = s"${prefix}_${java.util.UUID.randomUUID().toString.take(8)}"
    val observed = df.observe(name, metrics.head, metrics.tail: _*)
    val ck = observed.localCheckpoint()
    (ck, observed.queryExecution.observedMetrics(name))
  }

  /** Iteration width for `n` rows: ~`perPartition` rows a partition,
    * between 1 and the session parallelism, instead of one task per
    * shuffle partition on a tiny graph. Values never depend on it.
    */
  def width(spark: SparkSession, n: Long, perPartition: Long): Int =
    math.max(1, math.min(spark.sparkContext.defaultParallelism,
      (n / perPartition).toInt + 1))
}
