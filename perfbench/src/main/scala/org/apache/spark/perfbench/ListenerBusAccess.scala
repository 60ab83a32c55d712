package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The tracer reads listener events only after every event of an
  * operation has been delivered; the bus drain it needs is `private[spark]`,
  * hence this accessor in Spark's package namespace.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
