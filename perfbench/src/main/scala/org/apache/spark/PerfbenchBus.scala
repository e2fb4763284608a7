package org.apache.spark

/** The listener bus and its `waitUntilEmpty` are private[spark]; the
  * traced run drains the bus once before reading its counters. */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
