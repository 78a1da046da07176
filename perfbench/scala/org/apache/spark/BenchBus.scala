package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * the harness reads complete engine and query-progress counts. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
