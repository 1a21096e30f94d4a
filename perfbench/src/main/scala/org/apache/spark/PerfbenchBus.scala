package org.apache.spark

/** Access to the driver's listener bus, which Spark keeps package-private:
  * the harness drains it before reading the layer listener's records. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
