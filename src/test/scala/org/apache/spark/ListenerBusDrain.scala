package org.apache.spark

/** The listener bus's drain is Spark-private; specs that count jobs
  * read their counters only after every job event has been delivered.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
