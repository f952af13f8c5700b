package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * a traced run reads its spans only after every queued event has been
  * delivered. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
