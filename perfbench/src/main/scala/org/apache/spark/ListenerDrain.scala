package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * the benchmark reads complete job/stage/task and query-execution
  * records at the end of a traced unit. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
