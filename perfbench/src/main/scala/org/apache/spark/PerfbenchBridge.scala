package org.apache.spark

/** The one `private[spark]` call the traced run needs: wait until every
  * queued listener event has been delivered, so the counters read after
  * the window cover all of it. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
