package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

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
