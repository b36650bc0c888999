package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run waits for every job, stage and query event of an operation
  * to be delivered before it attributes them. */
object PerfbenchBridge {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
