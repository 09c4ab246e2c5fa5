package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sources.{TxLogTable, TxLogV2}

/** Spark-NATIVE dynamic file pruning for txlog joins: the default
  * optimizer's dynamic-pruning subquery reaches the DSv2 scan through
  * `SupportsRuntimeFiltering`, and `BatchScanExec` replans the file
  * list against the runtime IN-set — manifest min/max + Bloom skipping
  * at execution time, broadcast-exchange reuse, NO injected rule and
  * NO planning-time job (the optimizer-time pruner this replaces was
  * `plans.TxLogDynamicFilePruning`, deleted in the DSv2 migration).
  *
  * Pinned: effectiveness (files actually skipped, in a PLAIN session),
  * correctness (pruned result equal to the filtering-disabled run),
  * outer-join and empty-dim semantics, the V1 escape hatch
  * (`spark.sql.sources.useV1SourceList`), and the DV-snapshot V1-scan
  * fallback.
  */
class TxLogRuntimeFilterSpec extends SparkSpec {

  private val factSchema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("payload", LongType, nullable = true)))

  /** A 10-file range-clustered fact: file i holds k ∈ [100i, 100i+99]. */
  private def seedFact(prefix: String): (String, TxLogTable) = {
    val root = Files.createTempDirectory(prefix).toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(factSchema)
    import spark.implicits._
    t.append((0L until 1000L).map(k => (k, k * 7)).toDF("k", "payload"))
    t.compactClustered(Seq("k"), numFiles = 10, statsCols = Seq("k"))
    (root, t)
  }

  /** A small parquet-backed dim with a SELECTIVE predicate: dynamic
    * pruning is only inserted when the filtering side carries a
    * selective filter, and a purely-local dim would have its filter
    * folded away by ConvertToLocalRelation before the
    * PartitionPruning batch ever sees it.
    */
  private def dim(ks: Long*) = {
    import spark.implicits._
    val dir = Files.createTempDirectory("rtf_dim").resolve("d").toString
    ks.map(k => (k, s"d$k")).toDF("dk", "tag").write.parquet(dir)
    spark.read.parquet(dir).filter(col("dk") >= 0L)
  }

  test("a 3-key dim prunes the fact scan at runtime — plain session, no extensions") {
    val (root, _) = seedFact("rtf_eff")
    val fact = spark.read.format("txlog").load(root)
    val joined = fact.join(dim(5L, 105L, 907L), fact("k") === col("dk"))
      .select(col("k"), col("tag"), col("payload"))
    TxLogV2.lastRuntimeFiltered = false
    val rows = joined.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq((5L, "d5", 35L), (105L, "d105", 735L),
      (907L, "d907", 6349L)))
    // the runtime IN-set reached the scan, and only the 3 files whose
    // k-ranges can hold the keys were planned (of 10 live)
    assert(TxLogV2.lastRuntimeFiltered,
      "runtime filter never reached the scan")
    assert(TxLogV2.lastScan == (3, 10),
      s"lastScan=${TxLogV2.lastScan}")
    // the physical plan carries the dynamic-pruning runtime filter
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("RuntimeFilters: [dynamicpruning"), plan)
  }

  test("pruned result equals the filtering-disabled run") {
    val (root, _) = seedFact("rtf_eq")
    val fact = spark.read.format("txlog").load(root)
    def run(): Seq[(Long, Long)] =
      fact.join(dim(7L, 413L, 850L, 999L), fact("k") === col("dk"))
        .select(col("k"), col("payload")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val pruned = run()
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled",
      "false")
    val control = try {
      TxLogV2.lastRuntimeFiltered = false
      val c = run()
      assert(!TxLogV2.lastRuntimeFiltered,
        "kill switch must stop runtime filtering")
      assert(TxLogV2.lastScan._1 == TxLogV2.lastScan._2,
        s"disabled run must scan everything, got ${TxLogV2.lastScan}")
      c
    } finally spark.conf.unset(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled")
    assert(pruned == control)
    assert(pruned == Seq((7L, 49L), (413L, 2891L), (850L, 5950L),
      (999L, 6993L)))
  }

  test("outer joins keep unmatched fact rows (no pruning), empty dims keep semantics") {
    val (root, _) = seedFact("rtf_outer")
    val fact = spark.read.format("txlog").load(root)
    // left-outer with the FACT on the preserved side: every fact row
    // must survive, so no runtime filter may reach the scan
    TxLogV2.lastRuntimeFiltered = false
    val outer = fact.join(dim(5L), fact("k") === col("dk"), "left_outer")
    assert(outer.count() == 1000L)
    assert(!TxLogV2.lastRuntimeFiltered,
      "outer join must not runtime-prune the preserved side")
    // a dim filtered to zero keys yields zero rows, pruned or not
    val empty = fact.join(dim(5L).filter(col("dk") < 0L),
      fact("k") === col("dk"))
    assert(empty.count() == 0L)
  }

  test("SQL reads route through the V2 scan: manifest pruning applies to SELECT") {
    val (root, _) = seedFact("rtf_sql")
    val got = graft.plans.GraftSql.sql(spark,
      s"SELECT sum(payload) AS s FROM txlog.`$root` " +
        "WHERE k >= 300 AND k < 400").collect().head.getLong(0)
    assert(got === (300L until 400L).map(_ * 7).sum)
    assert(TxLogV2.lastScan === (1, 10),
      s"SQL read should prune through the manifest: ${TxLogV2.lastScan}")
  }

  test("useV1SourceList escape hatch routes reads through the V1 relation") {
    val (root, t) = seedFact("rtf_v1")
    spark.conf.set("spark.sql.sources.useV1SourceList", "txlog")
    try {
      val q = spark.read.format("txlog").load(root)
        .filter(col("k") >= 100L && col("k") < 200L)
      assert(q.count() == 100L)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("Scan graft.sources.TxLogRelation"), plan)
      assert(TxLogV2.lastScan == (1, 10),
        s"V1 lastScan=${TxLogV2.lastScan}")
      assert(q.agg(sum(col("payload"))).collect().head.getLong(0) ==
        (100L until 200L).map(_ * 7).sum)
    } finally spark.conf.unset("spark.sql.sources.useV1SourceList")
    assert(t.read().count() == 1000L)
  }

  test("small-vector DV snapshots keep the native batch: inline skips, runtime pruning") {
    val (root, t) = seedFact("rtf_dvnative")
    t.deleteVectored(col("k") % 100L === 5L) // 10 rows, one per file
    val fact = spark.read.format("txlog").load(root)
    // native BatchScan, not the V1 bridge — the point of the inline path
    val plan = fact.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan") && !plan.contains("TxLogDvScan"),
      plan)
    // merge-on-read stays exact through the per-file skip sets
    assert(fact.count() == 990L)
    assert(fact.filter(col("k") === 5L).count() == 0L)
    assert(fact.filter(col("k") === 6L).count() == 1L)
    // static manifest pruning still engages (every file is DV-touched
    // here, so the whole-file no-filter leg serves the one survivor)
    fact.filter(col("k") >= 900L && col("k") < 1000L).count()
    assert(TxLogV2.lastScan == (1, 10), s"${TxLogV2.lastScan}")
    // RUNTIME file pruning reaches the DV-bearing scan — the
    // capability the V1-bridge join path could not offer
    TxLogV2.lastRuntimeFiltered = false
    val joined = fact.join(dim(7L, 907L), fact("k") === col("dk"))
      .select(col("k"), col("payload"))
    val rows = joined.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(rows == Seq((7L, 49L), (907L, 6349L)))
    assert(TxLogV2.lastRuntimeFiltered,
      "runtime filter never reached the DV-bearing scan")
    assert(TxLogV2.lastScan == (2, 10), s"${TxLogV2.lastScan}")
    // a deleted key joins to NOTHING even when its file is planned
    val delJoin = fact.join(dim(5L, 6L), fact("k") === col("dk"))
    assert(delJoin.collect().map(_.getLong(0)).toSeq == Seq(6L))
  }

  test("bulk-vector DV snapshots fall back to the V1-bridge distributed anti-join") {
    val (root, t) = seedFact("rtf_dv")
    t.deleteVectored(col("k") % 100L === 5L) // 10 rows, one per file
    // force the bulk path: a broadcast threshold that ships nothing
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val viaV2 = spark.read.format("txlog").load(root)
      assert(viaV2.count() == 990L)
      assert(viaV2.filter(col("k") === 5L).count() == 0L)
      assert(viaV2.filter(col("k") === 6L).count() == 1L)
      // the bulk fallback is a V1-bridge scan, not a BatchScan
      val plan = viaV2.queryExecution.executedPlan.toString
      assert(plan.contains("Scan graft.sources.TxLogDvScan"), plan)
      // pushed filters still prune the file list inside the bridge
      viaV2.filter(col("k") >= 900L).count()
      assert(TxLogV2.lastScan == (1, 10),
        s"lastScan=${TxLogV2.lastScan}")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // OPTIMIZE folds the DVs away; scans return to the plain native Batch
    t.compactClustered(Seq("k"), numFiles = 4, statsCols = Seq("k"))
    val back = spark.read.format("txlog").load(root)
    assert(back.count() == 990L)
    assert(back.queryExecution.executedPlan.toString.contains("BatchScan"),
      back.queryExecution.executedPlan.toString)
  }
}
