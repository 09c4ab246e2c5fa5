package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec

/** Listener-exact Spark job counts of txlog commits. The staging tasks
  * fold the file stats and write the change rows, so a commit with
  * stats is one job, and a merge's change feed costs no job of its own.
  * Also pinned: a "lazy" `localCheckpoint` is not free under adaptive
  * execution — it runs the map stages of its plan at the call.
  */
class TxLogCommitJobsSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(name: String): TxLogTable = {
    val t = new TxLogTable(spark,
      Files.createTempDirectory(s"txjobs_$name").toString)
    t.ensureExists(batch(0L, 0).schema)
    t
  }

  /** A local batch of `n` rows keyed from `from`: no exchange, one task. */
  private def batch(from: Long, n: Int): DataFrame =
    (from until from + n).map(k => (k, s"v$k", k % 7)).toDF("k", "v", "n")
      .coalesce(1)

  test("lazy localCheckpoint starts the shuffle-map job of its plan at " +
      "the call, none without an exchange") {
    val grouped = spark.range(0, 1000, 1, 4).groupBy(col("id") % 7).count()
    assert(jobsStartedBy { grouped.localCheckpoint(eager = false); () } === 1)
    assert(jobsStartedBy {
      spark.range(0, 1000, 1, 4).localCheckpoint(eager = false); ()
    } === 0)
  }

  test("an append with stats and Bloom filters is one job") {
    val t = fresh("append")
    assert(jobsStartedBy {
      t.append(batch(0L, 200), statsCols = Seq("k", "v", "n"),
        bloomCols = Seq("k", "v"))
      ()
    } === 1)
    assert(t.metricsAt(t.currentVersion).get("numOutputRows") === 200L)
  }

  test("merges write their data and change rows in one staging job") {
    val t = fresh("merge")
    t.append(batch(0L, 100), statsCols = Seq("k"))
    // the key and duplicate-key censuses, then the window's map stage
    // and the write
    assert(jobsStartedBy {
      t.merge(batch(50L, 100), Seq("k"), Seq(col("n").desc),
        statsCols = Seq("k"))
      ()
    } === 6)
    // key census doubling as the ambiguity gate (map stage + collect),
    // then the target window's and the source's map stages and the
    // write
    assert(jobsStartedBy {
      t.mergeConditional(batch(120L, 60), Seq("k"),
        Seq(TxLogTable.MatchedUpdate(None)), statsCols = Seq("k"))
      ()
    } === 5)
  }

  /** Two stats-covered appends of 100 keys each: files {0..99} and
    * {100..199}, so a predicate on `k` decides each file.
    */
  private def twoFiles(name: String): TxLogTable = {
    val t = fresh(name)
    t.append(batch(0L, 100), statsCols = Seq("k"))
    t.append(batch(100L, 100), statsCols = Seq("k"))
    t
  }

  test("copy-on-write writers commit in their staging job") {
    val o = twoFiles("overwrite")
    assert(jobsStartedBy {
      o.overwrite(batch(0L, 50), statsCols = Seq("k")); ()
    } === 1)
    // the staging job, then the check that every staged row lies in
    // the replaced region
    val r = twoFiles("replace")
    assert(jobsStartedBy {
      r.replaceWhere(batch(100L, 50), col("k") >= 100L,
        statsCols = Seq("k")); ()
    } === 2)
    // stats prove which file may match, and a predicate that no file
    // admits commits without a job
    val d = twoFiles("delete")
    assert(jobsStartedBy {
      d.delete(col("k") === 5L, statsCols = Seq("k")); ()
    } === 1)
    assert(jobsStartedBy { d.delete(col("k") === 999L); () } === 0)
    val u = twoFiles("update")
    assert(jobsStartedBy {
      u.update(col("k") === 5L, Map("v" -> lit("x")),
        statsCols = Seq("k")); ()
    } === 1)
    assert(jobsStartedBy {
      u.update(col("k") === 999L, Map("v" -> lit("x"))); ()
    } === 0)
  }

  test("deletion-vector writers, and restore across them") {
    val t = twoFiles("dv")
    val v0 = t.currentVersion
    // the rebalanced sidecar: its map stage and the write
    assert(jobsStartedBy { t.deleteVectored(col("k") === 5L); () } === 2)
    // plus the anti-join against the live vectors
    assert(jobsStartedBy { t.deleteVectored(col("k") === 6L); () } === 3)
    assert(jobsStartedBy { t.deleteVectored(col("k") === 999L); () } === 0)
    // the sidecar and the post-images: two staging writes
    assert(jobsStartedBy {
      t.updateVectored(col("k") === 7L, Map("v" -> lit("x")),
        statsCols = Seq("k")); ()
    } === 6)
    assert(jobsStartedBy {
      t.updateVectored(col("k") === 999L, Map("v" -> lit("x"))); ()
    } === 0)
    // the change rows of the shared files' vector delta
    assert(jobsStartedBy { t.restore(v0); () } === 7)
  }

  test("compactions") {
    // the row count's two stages, then the write
    val c = twoFiles("compact")
    assert(jobsStartedBy { c.compact(1000L); () } === 3)
    val i = twoFiles("incremental")
    i.append(batch(200L, 10), statsCols = Seq("k"))
    i.deleteVectored(col("k") === 5L)
    assert(jobsStartedBy {
      i.compactIncremental(1000L, minFileBytes = 1L << 20,
        statsCols = Seq("k")); ()
    } === 5)
    // the range sample, then the write
    val z = twoFiles("clustered")
    assert(jobsStartedBy { z.compactClustered(Seq("k"), 2); () } === 3)
  }

  test("a failed staging write leaves no file behind, however many of " +
      "its tasks committed") {
    val t = fresh("failed")
    t.append(batch(0L, 10))
    t.addConstraint("n_small", "n < 7")
    val data = java.nio.file.Paths.get(t.root, "data")
    def entries(): Set[String] = {
      val it = Files.walk(data).iterator()
      var out = Set.empty[String]
      while (it.hasNext) out += data.relativize(it.next()).toString
      out
    }
    val before = entries()
    // one row in one of four partitions violates the constraint
    val bad = (100L until 400L).map(k => (k, s"v$k", if (k == 333L) 7L
      else k % 7)).toDF("k", "v", "n").repartition(4)
    intercept[Exception](t.append(bad, statsCols = Seq("k")))
    intercept[Exception](t.merge(bad, Seq("k"), Seq(col("n").desc)))
    assert(entries() === before)
    assert(t.read().count() === 10L)
  }
}
