package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * counts read afterwards are complete. The bus is `private[spark]`,
  * hence this one-method bridge in Spark's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
