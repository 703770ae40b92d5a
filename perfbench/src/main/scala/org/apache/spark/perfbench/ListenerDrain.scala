package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus drain is package-private to Spark; the benchmark
  * needs it so a pass's task metrics are all counted before it reads
  * them. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
