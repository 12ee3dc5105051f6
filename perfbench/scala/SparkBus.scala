package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the listener bus, which Spark keeps package-private: the
  * tracer drains it at the end of each traced operation so every task
  * and stage event of that operation is counted before its span closes. */
object SparkBus {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
