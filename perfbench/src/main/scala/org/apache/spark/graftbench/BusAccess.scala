package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached every listener. The
  * traced runner calls it between operations, so each listener event is
  * attributed to the operation that caused it. Lives under org.apache.spark
  * because the listener bus is package-private there. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
