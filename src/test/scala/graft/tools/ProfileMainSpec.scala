package graft.tools

import java.io.ByteArrayOutputStream

import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper

import graft.{SparkEntry, SparkSpec}

/** [[Profile.main]] end to end at sf0.001: its stdout records, their
  * bytes written, and its failure on a prefix that selects nothing.
  */
class ProfileMainSpec extends SparkSpec {

  /** The main's outcome and stdout. Its `Sessions.local()` returns the
    * shared session, whose builder re-applies the engine's runtime confs
    * (already in place).
    */
  private def profile(args: String*): (Try[Unit], String) = {
    val out = new ByteArrayOutputStream()
    val result = Try(Console.withOut(out)(Profile.main(args.toArray)))
    (result, out.toString("UTF-8"))
  }

  test("one JSON record per selected query with rows, both wall times and the fastest pass's counts") {
    val (result, out) = profile(sf0001, "q01", "q34")
    result.get
    val lines = out.linesIterator.filter(_.nonEmpty).toSeq
    assert(lines.size == 2, out)
    val recs = lines.map(new ObjectMapper().readTree(_))
    assert(recs.map(_.get("query").asText) ==
      Seq("q01_pricing_summary", "q34_dedup_closure"))
    recs.foreach { r =>
      Seq("query", "sf_dir", "cores", "loadavg_start", "rows", "wall_s",
        "min_s", "jobs", "stages", "tasks", "bytes_written")
        .foreach(f => assert(r.has(f), f))
      val name = r.get("query").asText
      assert(r.get("sf_dir").asText == sf0001)
      assert(r.get("cores").asInt == spark.sparkContext.defaultParallelism)
      val walls = (0 until r.get("wall_s").size).map(r.get("wall_s").get(_).asDouble)
      assert(walls.size == 2 && walls.forall(_ > 0), name)
      assert(r.get("min_s").asDouble == walls.min, name)
      assert(r.get("jobs").asInt >= 1, name)
      assert(r.get("stages").asInt >= 1, name)
      assert(r.get("tasks").asInt >= r.get("stages").asInt, name)
      assert(r.get("rows").asLong ==
        SparkEntry.queries(name)(spark, sf0001).count(), name)
    }
  }

  test("bytes_written is the faster pass's local writes: none for a read-only query") {
    val (result, out) = profile(sf0001, "q01", "q117")
    result.get
    val recs = out.linesIterator.filter(_.nonEmpty).map(new ObjectMapper().readTree(_))
      .map(r => r.get("query").asText -> r.get("bytes_written").asLong).toMap
    assert(recs.keySet == Set("q01_pricing_summary", "q117_txlog_skipping_read"), out)
    assert(recs("q01_pricing_summary") == 0L, out)
    assert(recs("q117_txlog_skipping_read") > 0L, out)
  }

  test("a prefix that matches no query fails with a message and prints no record") {
    val (result, out) = profile(sf0001, "q01", "qzz")
    val e = result.failed.get
    assert(e.isInstanceOf[IllegalArgumentException])
    assert(e.getMessage.contains("no query name starts with qzz"), e.getMessage)
    assert(out.isEmpty, out)
  }
}
