package org.apache.spark

/** Blocks until Spark's listener bus has delivered every posted event, so
  * a benchmark listener's totals are complete when they are read. The bus
  * is private to the `org.apache.spark` package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
