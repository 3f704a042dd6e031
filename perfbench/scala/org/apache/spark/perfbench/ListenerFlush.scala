package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains the listener bus so that every event of the operation that just
  * returned has reached the benchmark's listeners before the next one
  * starts. Spark keeps the bus's wait call package-private; this object
  * is the only reason the benchmark has a class in Spark's namespace. */
object ListenerFlush {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
