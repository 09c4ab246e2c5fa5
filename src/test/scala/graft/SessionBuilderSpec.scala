package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One session definition for the engine: under `src/main`, a
  * SparkSession builder appears only in [[graft.core.Sessions]] and in
  * the two harness mains, `Bench` and `Verify`; under `src/test` it
  * appears nowhere, since the specs run on `Sessions.local`.
  */
class SessionBuilderSpec extends AnyFunSuite {

  /** The one-line call, assembled so that this file holds no site. */
  private val call = "SparkSession" + ".builder("

  /** (file, line) of every builder call under `root` outside comment
    * lines, in both forms: the call on one line, and a line ending in
    * `SparkSession` whose next code line opens with `.builder()`.
    */
  private def builderSites(root: Path): Seq[(String, Int)] = {
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    files.sorted.flatMap { f =>
      val code = Files.readAllLines(f).asScala.toSeq.map(_.trim).zipWithIndex
        .filterNot { case (l, _) => Seq("//", "*", "/*").exists(l.startsWith) }
      val next = code.drop(1).map(_._1) :+ ""
      code.zip(next).collect {
        case ((l, i), n) if l.contains(call) ||
            (l.endsWith("SparkSession") && n.startsWith(".builder(")) =>
          (root.relativize(f).toString, i + 1)
      }
    }
  }

  test("a SparkSession builder appears in src/main only in Sessions, Bench and Verify") {
    val sites = builderSites(Paths.get("src/main/scala"))
    assert(sites.map(_._1).sorted ==
      Seq("graft/Bench.scala", "graft/Verify.scala", "graft/core/Sessions.scala"),
      sites.mkString("\n"))
  }

  test("no SparkSession builder appears in src/test") {
    val sites = builderSites(Paths.get("src/test/scala"))
    assert(sites.isEmpty, sites.mkString("\n"))
  }
}
