package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous: before the traced run reads its
  * listener, every posted event must have been delivered. The bus is
  * private to Spark, hence this one-line bridge in Spark's package. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
