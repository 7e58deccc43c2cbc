package org.apache.spark

/** Drains the listener bus so a traced op's stage events are all counted
  * before its figures are read. `listenerBus` is package-private to Spark,
  * hence this one-line bridge in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
