package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so the
  * traced pass reads complete counts. `listenerBus` is package-private to
  * Spark, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
