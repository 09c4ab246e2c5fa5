package graft.orchestration

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Minimal task-graph runner reproducing the reference's orchestration
  * semantics (SURVEY §2.10 W1-W6): named tasks, dependency edges,
  * per-task retries with delay, failure callbacks, downstream skip on
  * failure, and a run-scoped staging dir for cross-task file handoff
  * (the reference's `/tmp/pp_monthly.csv`, `monthly_price_paid_data.py:13`),
  * deleted when the run ends.
  *
  * Deliberately NOT a scheduler: cron/catchup (W5, T6) stay outside the
  * engine — jobs take a logical date parameter, mirroring "Airflow
  * schedules Spark jobs". Spark's own task retries sit beneath this
  * layer; these retries are the *job-step* policy (W3: retries=1,
  * delay=5min in every reference DAG — delay injectable for tests).
  */
object TaskGraph {

  final case class Task(
      id: String,
      deps: Seq[String] = Nil,
      retries: Int = 1,
      run: TaskContext => Unit)

  /** Handed to each task: the session plus the run's staging dir (W6). */
  final case class TaskContext(
      spark: SparkSession,
      runId: String,
      stagingDir: String,
      params: Map[String, String])

  sealed trait TaskState
  case object Succeeded extends TaskState
  final case class Failed(error: Throwable, attempts: Int) extends TaskState
  final case class Skipped(failedDep: String) extends TaskState

  final case class RunResult(states: Map[String, TaskState]) {
    def succeeded: Boolean = states.values.forall(_ == Succeeded)
    def failed: Seq[String] = states.collect { case (id, _: Failed) => id }.toSeq
  }

  /** Topologically execute the graph. Throws on cycles or unknown deps
    * (construction errors, not runtime states).
    */
  def run(
      tasks: Seq[Task],
      spark: SparkSession,
      params: Map[String, String] = Map.empty,
      onFailure: (String, Throwable) => Unit = (_, _) => (),
      retryDelayMs: Long = 0L,
      runId: String = java.util.UUID.randomUUID().toString): RunResult = {

    val byId = tasks.map(t => t.id -> t).toMap
    require(byId.size == tasks.size, "duplicate task ids")
    tasks.foreach(t => t.deps.foreach(d =>
      require(byId.contains(d), s"task ${t.id} depends on unknown task $d")))

    val order = topoSort(tasks)
    val staging = Files.createRunDir(runId)
    val ctx = TaskContext(spark, runId, staging, params)
    val states = mutable.Map[String, TaskState]()

    try order.foreach { t =>
      val failedDep = t.deps.find(d => states(d) != Succeeded)
      states(t.id) = failedDep match {
        case Some(d) => Skipped(d)
        case None => attempt(t, ctx, onFailure, retryDelayMs)
      }
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(staging))
    RunResult(states.toMap)
  }

  private def attempt(
      t: Task,
      ctx: TaskContext,
      onFailure: (String, Throwable) => Unit,
      retryDelayMs: Long): TaskState = {
    var attempts = 0
    var lastError: Throwable = null
    while (attempts <= t.retries) {
      attempts += 1
      try {
        t.run(ctx)
        return Succeeded
      } catch {
        case NonFatal(e) =>
          lastError = e
          if (attempts <= t.retries && retryDelayMs > 0) Thread.sleep(retryDelayMs)
      }
    }
    onFailure(t.id, lastError) // W4: webhook hook point; errors swallowed
    Failed(lastError, attempts)
  }

  private def topoSort(tasks: Seq[Task]): Seq[Task] = {
    val visiting = mutable.Set[String]()
    val done = mutable.LinkedHashSet[String]()
    val byId = tasks.map(t => t.id -> t).toMap
    def visit(id: String): Unit = {
      if (done.contains(id)) return
      require(!visiting.contains(id), s"cycle involving task $id")
      visiting += id
      byId(id).deps.foreach(visit)
      visiting -= id
      done += id
    }
    tasks.foreach(t => visit(t.id))
    done.toSeq.map(byId)
  }

  private object Files {
    def createRunDir(runId: String): String = {
      val p = java.nio.file.Files.createTempDirectory(s"graft-run-$runId")
      p.toString
    }
  }
}
