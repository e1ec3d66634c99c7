package org.apache.spark

/** Drains the listener bus so a listener's totals are final before they are
  * read; `waitUntilEmpty` is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
