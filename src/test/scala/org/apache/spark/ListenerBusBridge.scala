package org.apache.spark

/** Test access to the `private[spark]` listener bus: a spec that counts
  * listener events waits for every event of a finished call first. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
