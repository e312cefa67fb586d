package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * traced run reads complete job, stage and task records. The bus is
  * `private[spark]`; this object re-exports the one call from inside
  * the package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
