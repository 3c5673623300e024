package org.apache.spark

/** The listener bus's drain is package-private to Spark; the traced run
  * needs it so every job, task and query event of an op has arrived
  * before the op's counters are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
