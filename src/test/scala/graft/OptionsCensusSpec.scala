package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine's own options: every `spark.graft.*` conf that code
  * under `src/main` names is on [[OptionsCensusSpec.Listed]], so a new
  * option edits this list in the change that adds it.
  */
class OptionsCensusSpec extends AnyFunSuite {

  /** A `spark.graft.` key in a string literal. */
  private val key = """"spark\.graft\.([\w.]+)"""".r

  /** (file, key) of every `spark.graft.*` literal under `root` outside
    * comment lines.
    */
  private def confKeys(root: Path): Seq[(String, String)] = {
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    files.sorted.flatMap { f =>
      Files.readAllLines(f).asScala.map(_.trim)
        .filterNot(l => Seq("//", "*", "/*").exists(l.startsWith))
        .flatMap(l => key.findAllMatchIn(l).map(m =>
          (root.relativize(f).toString, m.group(1))))
    }
  }

  test("src/main reads only the listed spark.graft options") {
    val found = confKeys(Paths.get("src/main/scala"))
    assert(found.map(_._2).distinct.sorted == OptionsCensusSpec.Listed,
      found.mkString("\n"))
  }
}

object OptionsCensusSpec {
  /** The `spark.graft.` options, without that prefix. */
  val Listed: Seq[String] = Seq(
    "txlog.commitOwner",
    "txlog.commitOwner.registryDir",
    "txlog.distributedPlanThreshold",
    "txlog.optimize.minFileBytes")
}
