package org.apache.spark

/** The listener bus's drain call is private to Spark; the traced run
  * needs it so every job, stage and task event has been delivered before
  * the spans are summed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
