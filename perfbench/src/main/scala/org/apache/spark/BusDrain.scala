package org.apache.spark

/** Blocks until Spark's listener bus has delivered every posted event,
  * so job and task counts read after a pass are complete. The bus is
  * package-private to Spark, hence this file's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
