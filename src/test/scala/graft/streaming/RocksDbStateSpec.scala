package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.ext.EventAnalytics
import graft.streaming.AnalyticsStreams._

/** The stateful streaming tier on the RocksDB state store — the
  * provider [[graft.core.Sessions.engineConfs]] pins for production
  * sessions (heap-backed state is the first casualty of a 100 TB
  * keyspace; RocksDB spills to local disk with bounded memory).
  * Pinned here: (1) stream == batch-twin equality for the funnel on
  * RocksDB, (2) a keyspace far past what a test heap would enjoy
  * holding per-key JVM objects for, (3) evidence the provider actually
  * engaged (RocksDB writes zip/changelog artifacts into the state
  * checkpoint, never the HDFS provider's .delta files).
  */
class RocksDbStateSpec extends SparkSpec {

  private val provider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val steps = Seq("view", "click", "purchase")
  private val idleMs = 40L * 86400000L

  /** The shared session is the shipped one, so it runs on RocksDB. */
  private def assertRocksDbSession(): Unit = {
    assert(graft.core.Sessions.engineConfs(
      "spark.sql.streaming.stateStore.providerClass") == provider,
      "engineConfs must pin the RocksDB provider for production sessions")
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass") == provider)
  }

  private def mkEvents(nUsers: Int, perUser: Int): Seq[UserEvent] = {
    val types = Array("view", "click", "purchase", "signup", "other")
    var seed = 0x9E3779B97F4A7C15L
    def next(): Long = { seed = seed * 6364136223846793005L + 1442695040888963407L; seed >>> 16 }
    val base = 1700000000000000L // µs
    (0 until nUsers).flatMap { u =>
      (0 until perUser).map { _ =>
        val us = base + (next() % (35L * 86400000000L)).abs
        val ts = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
        ts.setNanos(((us % 1000000L) * 1000L).toInt)
        UserEvent(u.toLong, ts, types((next() % types.length).abs.toInt))
      }
    }
  }

  private def writeWithSentinels(events: Seq[UserEvent], dir: String,
      nFiles: Int): Unit = {
    import spark.implicits._
    val sorted = events.sortBy(e => (e.ts.getTime, e.ts.getNanos))
    val maxUs = events.map(e => e.ts.getTime * 1000L).max
    (0 until nFiles).foreach { f =>
      sorted.zipWithIndex.collect {
        case (e, i) if math.min(nFiles - 1, i * nFiles / sorted.length) == f => e
      }.toDS().coalesce(1).write.parquet(s"$dir/f$f")
    }
    Seq(40L, 81L).zipWithIndex.foreach { case (days, i) =>
      val us = maxUs + days * 86400000000L
      Seq(UserEvent(-1L, new Timestamp(us / 1000L), "other")).toDS()
        .coalesce(1).write.parquet(s"$dir/sentinel$i")
    }
  }

  private def runToMemory(out: DataFrame, name: String): (DataFrame, String) = {
    val ckpt = Files.createTempDirectory(s"ck_$name").toString
    val q = out.writeStream
      .format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    (spark.table(name), ckpt)
  }

  private def stateFiles(ckpt: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val root = java.nio.file.Paths.get(ckpt, "state")
    if (Files.isDirectory(root)) {
      val walk = Files.walk(root)
      try {
        walk.forEach(p => if (Files.isRegularFile(p))
          out += p.getFileName.toString)
      } finally walk.close()
    }
    out.result()
  }

  test("funnel stream == batch twin on the RocksDB state store") {
    assertRocksDbSession()
    import spark.implicits._
    val events = mkEvents(40, 12)
    val dir = Files.createTempDirectory("rocks_funnel").toString
    writeWithSentinels(events, dir, 4)
    val in = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[UserEvent].schema)
      .option("maxFilesPerTrigger", 1).parquet(dir + "/*").as[UserEvent]
    val (streamed, ckpt) = runToMemory(
      funnelStream(in, steps, "0 seconds", idleMs).toDF(), "rocks_funnel")
    val got = streamed.collect().map { r =>
      r.getLong(0) -> ((r.getSeq[Long](1), r.getLong(2)))
    }.toMap
    val want = EventAnalytics.orderedFunnel(events.toDF(), "user_id",
        "ts", "event_type", steps)
      .collect().map { r =>
        val su = steps.indices.map(i =>
          if (r.isNullAt(r.fieldIndex(s"step${i}_us"))) -1L
          else r.getLong(r.fieldIndex(s"step${i}_us")))
        r.getLong(0) -> ((su, r.getLong(r.fieldIndex("funnel_depth"))))
      }.toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (u, (su, d)) =>
      assert(got(u)._1.toSeq == su, s"user $u step timestamps")
      assert(got(u)._2 == d, s"user $u depth")
    }
    // the provider REALLY engaged: RocksDB checkpoints are zip
    // snapshots + changelogs; the heap provider writes .delta files
    val files = stateFiles(ckpt)
    assert(files.exists(f => f.endsWith(".zip") || f.endsWith(".changelog")),
      s"no RocksDB artifacts under $ckpt/state: ${files.take(10)}")
    assert(!files.exists(_.endsWith(".delta")),
      "HDFS-provider .delta files present — RocksDB did not engage")
  }

  test("a 60k-key funnel keyspace runs and finalizes every key on RocksDB") {
    assertRocksDbSession()
    import spark.implicits._
    val n = 60000
    val base = 1700000000000L
    val dir = Files.createTempDirectory("rocks_wide").toString
    // every user: view then click (depth 2 of 3), one file per step
    // wave, then sentinels push the watermark past the idle horizon
    (0 to 1).foreach { wave =>
      (0 until n).map(u => UserEvent(u.toLong,
        new Timestamp(base + wave * 60000L + u % 997), steps(wave)))
        .toDS().coalesce(2).write.parquet(s"$dir/w$wave")
    }
    Seq(40L, 81L).zipWithIndex.foreach { case (days, i) =>
      Seq(UserEvent(-1L, new Timestamp(base + days * 86400000L), "other"))
        .toDS().coalesce(1).write.parquet(s"$dir/sentinel$i")
    }
    val in = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[UserEvent].schema)
      .option("maxFilesPerTrigger", 1).parquet(dir + "/*").as[UserEvent]
    val (streamed, _) = runToMemory(
      funnelStream(in, steps, "0 seconds", idleMs).toDF(), "rocks_wide")
    val rows = streamed.collect()
    // sentinel key never matches step 0 → emits nothing; every real
    // user finalizes exactly once
    assert(rows.length == n, s"got ${rows.length} rows, want $n")
    assert(rows.count(_.getLong(2) == 2L) == n,
      "every user must finalize at depth 2 (view+click, no purchase)")
  }
}
