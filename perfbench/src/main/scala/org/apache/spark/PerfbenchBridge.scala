package org.apache.spark

/** Access to the `private[spark]` listener bus, so the benchmark can wait
  * for every listener event of a finished call before it reads its
  * counters. Only traced runs use it. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
