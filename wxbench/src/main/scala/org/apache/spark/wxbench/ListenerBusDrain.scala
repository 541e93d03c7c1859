package org.apache.spark.wxbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; per-layer numbers are
  * read only after every event of the measured work has been handled.
  * The bus is `private[spark]`, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
