package org.apache.spark

/** The one Spark-internal hook the benchmark needs: waiting until the
  * listener bus has delivered every event, so the traced run's listener
  * totals are complete before they are read.
  */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
