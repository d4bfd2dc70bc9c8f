package org.apache.spark

/** Waits until every listener queue has delivered its events, so the
  * benchmark reads complete job, stage, query and stream records. The bus
  * is private to Spark; this object only forwards the call.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
