package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; counters are read only after every
  * posted event was delivered. Lives under org.apache.spark because the
  * bus is `private[spark]`. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
