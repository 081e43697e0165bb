package org.apache.spark

/** The one Spark-internal the harness needs: `SparkContext.listenerBus`
  * is `private[spark]`, and per-layer numbers are only complete once
  * every queued listener event has been delivered. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
