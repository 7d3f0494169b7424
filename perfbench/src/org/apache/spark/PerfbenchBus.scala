package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark
  * needs it to read complete counters before it writes them out. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
