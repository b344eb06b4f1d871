package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * a traced pass's counters are complete before they are read. Lives
  * under `org.apache.spark` only for access; holds no logic. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
