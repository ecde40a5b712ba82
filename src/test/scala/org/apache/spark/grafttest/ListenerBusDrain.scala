package org.apache.spark.grafttest

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; a spec that counts them reads
  * its listener only after the bus has delivered every event posted so
  * far. `listenerBus` is Spark-internal, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
