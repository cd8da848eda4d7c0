package org.apache.spark

import org.apache.spark.scheduler.SparkListenerEvent

/** Posts an event onto the `private[spark]` listener bus, as the scheduler
  * does, so a spec can fill the bus's queues before a recorded scope. */
object ListenerBusPost {
  def apply(sc: SparkContext, e: SparkListenerEvent): Unit = sc.listenerBus.post(e)
}
