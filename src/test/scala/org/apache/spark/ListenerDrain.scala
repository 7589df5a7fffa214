package org.apache.spark

/** Test bridge to the `private[spark]` listener bus: blocks until
  * every event posted so far reached every listener, so a spec can
  * read what its listener recorded about jobs that already ran.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
