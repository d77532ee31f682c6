package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run waits
  * for it to drain before it reads its listener's totals. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
