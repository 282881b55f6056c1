package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous and its drain is `private[spark]`:
  * the harness waits on it before it reads the listener's tallies. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
