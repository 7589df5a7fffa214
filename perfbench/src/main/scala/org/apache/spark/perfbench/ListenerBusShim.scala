package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the context's listener bus, which is `private[spark]`:
  * the tracer drains it before reading what its listeners recorded.
  */
object ListenerBusShim {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
