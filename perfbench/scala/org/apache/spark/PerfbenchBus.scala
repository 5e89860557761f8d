package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads its
  * engine counters only after every event posted so far has been handled.
  * `listenerBus` is package-private to Spark, hence this shim's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
