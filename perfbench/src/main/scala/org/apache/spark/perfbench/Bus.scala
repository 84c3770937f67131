package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; draining it makes counter reads
  * exact instead of racing the asynchronous event delivery.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
