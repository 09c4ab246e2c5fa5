package graft.tools

import java.nio.file.{Files, Paths}
import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.core.Sessions

/** Per-query profile records: one JSON line per selected query on
  * stdout with its row count, the wall time of two measured passes,
  * and the Spark jobs, stages and tasks and the bytes written to the
  * local file system (`bytes_written`) of the faster pass. Runs on
  * [[Sessions.local]], the configuration that ships. Like `Bench`, it
  * warms every query once on the `sf0.001` sibling of `sfDir` (on
  * `sfDir` itself when there is none), then makes two passes.
  *
  * Usage: runMain graft.tools.Profile <sfDir> [queryPrefix ...]
  * (no prefix = every query).
  */
object Profile {

  final case class Counts(jobs: Int, stages: Int, tasks: Int)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <sfDir> [queryPrefix ...]")
    val sfDir = args.head
    val prefixes = args.toSeq.tail
    val names = SparkEntry.queries.keys.toSeq.sorted
    val unmatched = prefixes.filterNot(p => names.exists(_.startsWith(p)))
    require(unmatched.isEmpty,
      s"no query name starts with ${unmatched.mkString(", ")}")
    val selected = names.filter(n => prefixes.isEmpty || prefixes.exists(n.startsWith))
      .map(n => n -> SparkEntry.queries(n))
    val loadavgStart = try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").take(3).mkString(" ") finally src.close()
    } catch { case NonFatal(_) => "" }

    // The session is left to Spark's shutdown hook, so the main also
    // runs inside a JVM whose SparkContext outlives it.
    val spark = Sessions.local()
    val warm = Paths.get(sfDir).resolveSibling("sf0.001")
    val warmDir = if (Files.isDirectory(warm)) warm.toString else sfDir
    // a failure at the warm SF leaves the measured passes to report it
    selected.foreach { case (_, q) =>
      try q(spark, warmDir).count() catch { case NonFatal(_) => () }
      spark.catalog.clearCache()
    }
    val passes = Seq.fill(2)(selected.map { case (_, q) =>
      val b0 = localBytesWritten
      val (rows, wall, counts) = counted(spark)(q(spark, sfDir).count())
      val bytes = localBytesWritten - b0
      spark.catalog.clearCache()
      (rows, wall, counts, bytes)
    })

    val mapper = new ObjectMapper()
    selected.map(_._1).zip(passes.transpose).foreach { case (name, runs) =>
      val (rows, minS, best, bytes) = runs.minBy(_._2)
      val rec = mapper.createObjectNode()
        .put("query", name).put("sf_dir", sfDir)
        .put("cores", spark.sparkContext.defaultParallelism)
        .put("loadavg_start", loadavgStart).put("rows", rows)
      val walls = rec.putArray("wall_s")
      runs.foreach(r => walls.add(r._2))
      rec.put("min_s", minS).put("jobs", best.jobs)
        .put("stages", best.stages).put("tasks", best.tasks)
        .put("bytes_written", bytes)
      println(mapper.writeValueAsString(rec))
    }
  }

  /** Bytes written so far in this JVM through Hadoop's `file` file
    * system, from its global storage statistics.
    */
  private def localBytesWritten: Long =
    org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file") match {
      case null => 0L
      case st => Option(st.getLong("bytesWritten")).map(_.longValue).getOrElse(0L)
    }

  /** Runs `body` under a fresh job group; returns its result, its wall
    * seconds and the jobs, stages and tasks it started. A sentinel job
    * in a second group ends the count: the listener bus delivers events
    * in order, so once the sentinel's start is seen, every event of
    * `body` has been seen too.
    */
  def counted[T](spark: SparkSession)(body: => T): (T, Double, Counts) = {
    val sc = spark.sparkContext
    val group = s"graft-profile-${java.util.UUID.randomUUID()}"
    val counter = new GroupCounter(group)
    sc.addSparkListener(counter)
    try {
      sc.setJobGroup(group, "profile")
      val t0 = System.nanoTime()
      val out = body
      val wall = (System.nanoTime() - t0) / 1e9
      sc.setJobGroup(counter.sentinel, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      (out, wall, counter.await())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(counter)
    }
  }

  /** Counts the jobs, the submitted stages and their finished tasks of
    * one job group.
    */
  private final class GroupCounter(group: String) extends SparkListener {
    val sentinel = s"$group-sentinel"
    private val jobs, stages, tasks = new AtomicInteger()
    private val stageIds = ConcurrentHashMap.newKeySet[Int]()
    private val sentinelSeen = new CountDownLatch(1)

    private def groupOf(p: Properties): String =
      if (p == null) null else p.getProperty("spark.jobGroup.id")

    override def onJobStart(j: SparkListenerJobStart): Unit =
      groupOf(j.properties) match {
        case `group` => jobs.incrementAndGet()
        case `sentinel` => sentinelSeen.countDown()
        case _ =>
      }
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      if (groupOf(s.properties) == group) {
        stages.incrementAndGet()
        stageIds.add(s.stageInfo.stageId)
      }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (stageIds.contains(t.stageId)) tasks.incrementAndGet()

    def await(): Counts = {
      if (!sentinelSeen.await(30, TimeUnit.SECONDS))
        throw new IllegalStateException("listener never saw the sentinel job")
      Counts(jobs.get, stages.get, tasks.get)
    }
  }
}
