package graft.orchestration

import scala.collection.mutable

import graft.SparkSpec
import graft.orchestration.TaskGraph._

class TaskGraphSpec extends SparkSpec {

  test("topological order respects dependencies") {
    val order = mutable.ArrayBuffer[String]()
    val r = TaskGraph.run(Seq(
      Task("c", Seq("b"), run = _ => order += "c"),
      Task("a", Nil, run = _ => order += "a"),
      Task("b", Seq("a"), run = _ => order += "b")), spark)
    assert(r.succeeded)
    assert(order.toSeq == Seq("a", "b", "c"))
  }

  test("retries then failure callback; downstream skipped") {
    var attempts = 0
    var failedTask: String = null
    val ran = mutable.Set[String]()
    val r = TaskGraph.run(Seq(
      Task("flaky", Nil, retries = 2, run = _ => {
        attempts += 1; sys.error("boom")
      }),
      Task("down", Seq("flaky"), run = _ => ran += "down")),
      spark, onFailure = (id, _) => failedTask = id)
    assert(attempts == 3) // 1 try + 2 retries (W3)
    assert(failedTask == "flaky")
    assert(r.states("down") == Skipped("flaky"))
    assert(!ran.contains("down"))
  }

  test("retry succeeds on second attempt") {
    var n = 0
    val r = TaskGraph.run(Seq(
      Task("eventually", Nil, retries = 1, run = _ => {
        n += 1; if (n < 2) sys.error("transient")
      })), spark)
    assert(r.succeeded && n == 2)
  }

  test("cycle detection") {
    intercept[IllegalArgumentException] {
      TaskGraph.run(Seq(
        Task("a", Seq("b"), run = _ => ()),
        Task("b", Seq("a"), run = _ => ())), spark)
    }
  }

  test("params and staging dir reach tasks") {
    var seen: (String, String, Boolean) = null
    TaskGraph.run(Seq(Task("t", Nil, run = ctx =>
      seen = (ctx.params("k"), ctx.stagingDir,
        java.nio.file.Files.isDirectory(java.nio.file.Paths.get(ctx.stagingDir))))),
      spark, params = Map("k" -> "v"))
    assert(seen._1 == "v")
    assert(seen._3) // the staging dir exists while the run's tasks do
    // ...and is gone once the run ends
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(seen._2)))
  }

  test("staging dir is deleted after a failed run too") {
    var dir: String = null
    val r = TaskGraph.run(Seq(Task("t", Nil, retries = 0, run = ctx => {
      dir = ctx.stagingDir
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "handoff.csv"), "x")
      sys.error("boom")
    })), spark)
    assert(!r.succeeded)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
  }
}
