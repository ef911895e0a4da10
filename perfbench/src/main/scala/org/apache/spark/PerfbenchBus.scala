package org.apache.spark

/** The listener bus's drain is Spark-private; the benchmark needs it to
  * read its counters only after every job event has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
