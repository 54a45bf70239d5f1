package org.apache.spark

/** The one Spark-internal call the benchmark harness needs: waiting for
  * the listener bus to deliver every posted event, so traced counts are
  * complete when they are read.
  */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
