package org.apache.spark

/** The listener bus delivers events asynchronously; the tracer drains it
  * before reading its counters, so no task or query event of a finished
  * span is missed. `listenerBus` is package-private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
