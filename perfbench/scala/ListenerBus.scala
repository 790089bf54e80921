package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so a traced
  * pass's job records are complete before they are read. The bus is
  * `private[spark]`, hence this package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
