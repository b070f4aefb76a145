package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to SparkContext's private[spark] listener bus, so the benchmark can
  * read its listener's counters only after every queued event has arrived.
  */
object ListenerSync {
  def drain(sc: SparkContext, timeoutMs: Long = 60000): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
