package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every
  * listener has seen every event posted so far, so a traced pass's
  * counters are complete before the listener is removed. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
