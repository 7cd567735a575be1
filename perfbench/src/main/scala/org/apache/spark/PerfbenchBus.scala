package org.apache.spark

/** Access to the driver's listener bus, which is package-private to Spark:
  * the benchmark drains it at span edges so that task metrics land in the
  * span that ran the tasks.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
