package org.apache.spark

/** The listener bus delivers events asynchronously; a layer's counters
  * for an op are complete only once the bus has drained.
  */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
