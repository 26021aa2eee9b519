package org.apache.spark

/** Lets the benchmark drain Spark's listener bus before it reads counters
  * that listeners fill in asynchronously. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
