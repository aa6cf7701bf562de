package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The traced run reads its listener counters only after every event an
  * operation posted has been delivered. Spark keeps the bus's drain call
  * package-private, so this bridge lives in Spark's package.
  */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
