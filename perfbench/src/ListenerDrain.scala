package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain is Spark-private; this package can reach it. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
