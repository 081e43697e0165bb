package org.apache.spark

/** `SparkContext.listenerBus` is package-private: specs that count
  * Spark jobs drain it before reading their listener. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
