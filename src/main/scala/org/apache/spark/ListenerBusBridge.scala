package org.apache.spark

/** Access to the `private[spark]` listener bus: `graft.obs.Recorder` waits
  * for every event of a finished call before it reads what the call did. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
