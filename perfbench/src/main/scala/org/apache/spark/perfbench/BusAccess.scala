package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one Spark-internal the benchmark touches: draining the listener
  * bus, so that every event of an operation has reached the benchmark's
  * listeners before the operation's metrics are read. Lives under
  * `org.apache.spark` because `listenerBus` is `private[spark]`.
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
