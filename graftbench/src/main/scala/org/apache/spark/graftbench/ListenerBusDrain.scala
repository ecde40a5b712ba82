package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; the benchmark reads its
  * listener only after the bus has delivered every event posted so far.
  * `listenerBus` is Spark-internal, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
