package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the traced run reads its listener counters only after every event of
  * the window has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
