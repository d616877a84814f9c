package org.apache.spark

/** Blocks until Spark's listener bus has delivered every posted event, so
  * a test listener's counts are complete when asserted. The bus is private
  * to the `org.apache.spark` package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
