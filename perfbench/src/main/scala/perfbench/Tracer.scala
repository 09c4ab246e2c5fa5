package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder plus the two public Spark listeners of the
  * traced run. Spans and listener records stay in memory and are
  * written out once, when the run ends. An untraced run never builds a
  * Tracer, so it registers no listener.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val spans = mutable.ArrayBuffer[Span]()
  val tasks = mutable.ArrayBuffer[TaskRec]()
  val jobStarts = mutable.ArrayBuffer[Long]()
  val planning = mutable.ArrayBuffer[(Long, Double)]() // (end ms, planning s)
  private val stack = mutable.Stack[Int]()
  private var nextOp = 0
  var failedAttempts = 0 // Task.run calls that threw
  var tasksSkipped = 0

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.synchronized(jobStarts += e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.synchronized(tasks += TaskRec(
        e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorCpuTime / 1e9, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime / 1e3))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val s = qe.tracker.phases.values.map(p => p.durationMs).sum / 1e3
      planning.synchronized(planning += ((System.currentTimeMillis, s)))
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    org.apache.spark.BenchAccess.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  def newOp(): Int = { nextOp += 1; nextOp }

  /** Time `body` as a span named `name`, child of the enclosing span. */
  def span[T](name: String, op: Int)(body: => T): T = {
    val idx = spans.size
    spans += Span(name, System.currentTimeMillis, -1L, stack.headOption.getOrElse(-1), op,
      System.nanoTime)
    stack.push(idx)
    try body
    finally {
      stack.pop()
      spans(idx) = spans(idx).copy(end = System.currentTimeMillis, endNs = System.nanoTime)
    }
  }

  /** Spark work inside [start, end] (ms): jobs started, executor CPU
    * seconds, and the part of the interval no Spark task covered.
    */
  def sparkIn(start: Long, end: Long): Window = {
    val ts = tasks.filter(t => t.launch >= start && t.finish <= end)
    var covered = 0L
    var curS = -1L; var curE = -1L
    ts.map(t => (t.launch, t.finish)).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    Window(
      jobs = jobStarts.count(t => t >= start && t <= end),
      cpuS = ts.map(_.cpuS).sum,
      idleS = ((end - start) - covered).max(0L) / 1e3,
      shuffleWrite = ts.map(_.shuffleWrite).sum.toDouble,
      spill = ts.map(_.spill).sum.toDouble,
      gcS = ts.map(_.gcS).sum)
  }

  def planningIn(start: Long, end: Long): Double =
    planning.filter { case (t, _) => t >= start && t <= end }.map(_._2).sum

  def spansJson: String = Json.arr(spans.map(s => Json.obj(
    "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end, "seconds" -> s.seconds,
    "parent" -> s.parent, "op" -> s.op)).toSeq)
}

object Tracer {
  /** start/end are wall-clock ms (comparable with Spark's task times);
    * the duration comes from the nanosecond clock.
    */
  final case class Span(name: String, start: Long, end: Long, parent: Int, op: Int,
      startNs: Long, endNs: Long = 0L) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  final case class TaskRec(launch: Long, finish: Long, cpuS: Double, shuffleWrite: Long,
      spill: Long, gcS: Double)
  final case class Window(jobs: Int, cpuS: Double, idleS: Double, shuffleWrite: Double,
      spill: Double, gcS: Double)
}
