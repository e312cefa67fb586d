package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * spec's listener has seen every job the code under test started. The
  * bus is `private[spark]`; this object re-exports the one call from
  * inside the package. */
object SpecListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
