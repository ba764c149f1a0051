package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the traced run reads its listener counters only after every event
  * posted so far has been delivered. */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
