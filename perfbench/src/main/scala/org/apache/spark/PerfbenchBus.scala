package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark waits
  * for it to drain before it reads what its listener collected. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
