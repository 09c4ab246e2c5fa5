package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt):
  * the session that ships, [[graft.core.Sessions.local]] on 4 cores.
  */
object TestSession {
  lazy val spark: SparkSession = {
    val s = graft.core.Sessions.local(4)
    s.sparkContext.setLogLevel("WARN")
    // pruning-effectiveness hooks: specs assert exact (planned, live)
    // tuples, and the live-file denominator walk is test-gated
    graft.sources.TxLogV2.captureScans = true
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** Spark jobs that `body` starts from this thread (job group plus
    * sentinel job, see [[graft.tools.Profile.counted]]).
    */
  protected def jobsStartedBy(body: => Unit): Int =
    graft.tools.Profile.counted(spark)(body)._3.jobs
}
