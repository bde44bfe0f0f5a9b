package org.apache.spark

/** The one `private[spark]` member the trace recorder needs: draining the
  * listener bus, so every job, stage and progress event of a traced span
  * has been delivered before the recorder is detached or written out. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
