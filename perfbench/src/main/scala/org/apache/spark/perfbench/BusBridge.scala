package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously and its drain call is
  * package-private to Spark. The trace reads its buffers only after the
  * bus has delivered everything posted so far.
  */
object BusBridge {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
