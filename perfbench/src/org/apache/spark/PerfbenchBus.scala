package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * the traced run aggregates complete job, stage and task records. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
