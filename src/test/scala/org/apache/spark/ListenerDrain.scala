package org.apache.spark

/** Test-only bridge to the `private[spark]` listener bus: blocks until
  * every event posted so far reached its listeners, so a spec that
  * counts jobs or stages reads a complete census instead of sleeping. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
