package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously on Spark's listener bus; the
  * benchmark drains the bus before it reads a pass's counters. The bus is
  * package-private to Spark, hence this one-line bridge. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
