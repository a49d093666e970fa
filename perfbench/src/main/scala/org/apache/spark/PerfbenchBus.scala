package org.apache.spark

/** Access to the listener bus drain that Spark keeps package-private:
  * after `drain` returns, every event posted before the call has been
  * delivered to every listener. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
