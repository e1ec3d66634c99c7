package org.apache.spark

/** Drains the listener bus so a test listener's counts are final before
  * they are read; `waitUntilEmpty` is package-private to Spark. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
