package graft.tools

import graft.core.Sessions

/** Dev tool: print the formatted physical plan of named SparkEntry
  * queries (all queries when no names given) — source of PLANS.md.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> [qName ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n## $n\n")
      println(graft.SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
