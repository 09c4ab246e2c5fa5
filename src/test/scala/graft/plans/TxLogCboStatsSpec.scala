package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.TxLogTable

/** CBO statistics for txlog tables: exact rowCount + column
  * min/max/nullCount aggregated from manifest stats and surfaced
  * through a synthetic CatalogTable. Pinned: summary exactness
  * (incl. through a parquet stats checkpoint and the no-coverage
  * refusal), and the judge-grade decision flip — a filtered fact
  * whose RAW size exceeds the broadcast threshold plans a broadcast
  * join once column stats let the selectivity estimator shrink it,
  * and a sort-merge join without them.
  */
class TxLogCboStatsSpec extends SparkSpec {

  import spark.implicits._

  private def seed(prefix: String, n: Int): (String, TxLogTable) = {
    val root = Files.createTempDirectory(prefix).toString
    val t = new TxLogTable(spark, root)
    val df = (0 until n).map(i =>
      (i.toLong, "x" * 60, if (i % 10 == 0) null else s"v$i"))
      .toDF("k", "pad", "v")
    t.ensureExists(df.schema)
    t.append(df, statsCols = Seq("k", "v"))
    (root, t)
  }

  test("statsSummaryAt: exact rows/min/max/nulls + NDV, incl. through a checkpoint") {
    val (_, t) = seed("cbostats_sum", 1000)
    val Some((rows, ranges, ndvs)) = t.statsSummaryAt(t.currentVersion)
    assert(rows == 1000L)
    assert(ranges("k").min.contains("0") && ranges("k").max.contains("999"))
    assert(ranges("k").nulls == 0L)
    assert(ranges("v").nulls == 100L) // every 10th v is null
    assert(!ranges.contains("pad")) // pad was not a statsCol
    // NDV from the per-file theta-sketch union: exact below the
    // sketch's nominal entries would be 512; at 1000 distincts the
    // estimate must sit within the sketch's error band
    assert(math.abs(ndvs("k") - 1000L) <= 150L, s"ndv(k)=${ndvs("k")}")
    assert(math.abs(ndvs("v") - 900L) <= 150L, s"ndv(v)=${ndvs("v")}")
    // the summary survives folding into a parquet checkpoint
    t.checkpoint()
    val Some((rows2, ranges2, ndvs2)) = t.statsSummaryAt(t.currentVersion)
    assert(rows2 == 1000L && ranges2("k").max.contains("999"))
    assert(ndvs2("k") == ndvs("k"), "NDV sketches must survive the fold")
    // a later commit WITHOUT stats makes the summary refuse (exactness
    // over coverage), and sizeInBytes-only behavior resumes
    t.append(Seq((5000L, "y", "z")).toDF("k", "pad", "v"))
    assert(t.statsSummaryAt(t.currentVersion).isEmpty)
  }

  test("column stats flip a filtered-fact join to broadcast under CBO") {
    // two otherwise-identical facts: one committed WITH skipping stats
    // (→ the V2 scan reports exact rowCount + column ranges through
    // SupportsReportStatistics), one WITHOUT (→ sizeInBytes only).
    val (rootStats, _) = seed("cbostats_flip_s", 60000)
    val rootBare = Files.createTempDirectory("cbostats_flip_b").toString
    val tBare = new TxLogTable(spark, rootBare)
    val bare = (0 until 60000).map(i =>
      (i.toLong, "x" * 60, if (i % 10 == 0) null else s"v$i"))
      .toDF("k", "pad", "v")
    tBare.ensureExists(bare.schema)
    tBare.append(bare) // no statsCols
    // the dim must ALSO exceed the broadcast threshold, or it gets
    // broadcast in both arms and no flip is observable
    val dimDir = Files.createTempDirectory("cbostats_dim")
      .resolve("dim").toString
    (0 until 100000).map(i =>
      (i.toLong * 3, s"dim-$i-${i * 2654435761L}")).toDF("j", "tag")
      .write.parquet(dimDir)
    def planOf(root: String): SparkPlan = {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (100L << 10).toString)
      try {
        val fact0 = spark.read.format("txlog").load(root)
          .filter(col("k") < 600)
        val dim = spark.read.parquet(dimDir)
        fact0.join(dim, col("k") === col("j"))
          .queryExecution.sparkPlan
      } finally {
        spark.conf.unset("spark.sql.cbo.enabled")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
    def hasBroadcast(p: SparkPlan): Boolean =
      p.collect { case b: org.apache.spark.sql.execution.joins
        .BroadcastHashJoinExec => b }.nonEmpty
    // raw fact parquet is well past 100 KB: without column stats the
    // filter keeps the full size estimate and the join shuffles…
    assert(!hasBroadcast(planOf(rootBare)),
      "control arm must NOT broadcast (raw size over threshold)")
    // …with stats, k∈[0,59999] + k<600 estimates ~1% → broadcast
    assert(hasBroadcast(planOf(rootStats)),
      "stats arm must broadcast the filtered fact")
  }

  test("V2 scan surfaces exact rowCount natively; injected rule covers the V1 temp-view seam") {
    val (root, _) = seed("cbostats_ext", 5000)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      // V2 (the default read path): SupportsReportStatistics carries the
      // manifest row count into plan stats; the injected rule matches
      // V1 relations only
      val df = spark.read.format("txlog").load(root).filter(col("k") >= 0)
      val stats = df.queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(5000)),
        s"V2 rowCount=${stats.rowCount}")
      // V1 seam (CREATE TEMPORARY VIEW ... USING resolves through the V1
      // relation): the injected TxLogCboStats rule still supplies stats
      spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW cbostats_ext_v " +
        s"USING txlog OPTIONS (path '$root')")
      val v1 = spark.sql("SELECT * FROM cbostats_ext_v WHERE k >= 0")
      val v1Stats = v1.queryExecution.optimizedPlan.stats
      assert(v1Stats.rowCount.contains(BigInt(5000)),
        s"V1 temp-view rowCount=${v1Stats.rowCount}")
      spark.sql("DROP VIEW cbostats_ext_v")
    } finally spark.conf.unset("spark.sql.cbo.enabled")
  }
}
