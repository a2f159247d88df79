package org.apache.spark.erbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous: task-end events of a finished job can
  * still be queued when the driver thread reads a listener's totals. The
  * drain hook is Spark-internal, hence this one-line bridge.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
