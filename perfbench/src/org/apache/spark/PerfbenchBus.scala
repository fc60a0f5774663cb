package org.apache.spark

/** The listener bus's bounded drain is package-private to Spark; this
  * is the benchmark's one way in, so it reads listener counters only
  * after every posted event has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
