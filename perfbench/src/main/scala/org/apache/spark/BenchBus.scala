package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so stage metrics are complete before they are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
