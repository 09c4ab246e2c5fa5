package graft.core

import graft.SparkSpec

/** [[Sessions.local]] on a JVM that already has a session. */
class SessionsSpec extends SparkSpec {

  test("a second Sessions.local keeps the live context's cores and shuffle partitions") {
    assert(spark.sparkContext.master == "local[4]")
    val again = Sessions.local(2)
    assert(again eq spark)
    assert(again.sparkContext.master == "local[4]")
    assert(again.conf.get("spark.sql.shuffle.partitions") == "4")
  }
}
