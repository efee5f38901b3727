package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this bridge lives in Spark's
  * package so the benchmark can settle event delivery deterministically
  * (`waitUntilEmpty`) instead of sleeping. */
object Bus {
  def settle(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
