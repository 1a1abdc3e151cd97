package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access shim: the listener bus is `private[spark]`. The traced run
  * drains it at every operation boundary, so each event is counted
  * against the operation that caused it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
