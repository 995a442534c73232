package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event,
  * so a test listener's counts read afterwards are complete. The bus is
  * `private[spark]`, hence this one-method bridge in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
