package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run drains
  * it before attributing jobs and stages to spans. `listenerBus` is
  * package-private to Spark, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
