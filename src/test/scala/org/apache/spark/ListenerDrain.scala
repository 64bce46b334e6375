package org.apache.spark

/** Test access to the listener bus's drain, which Spark keeps private:
  * blocks until every event posted so far has reached every listener. A
  * deterministic replacement for sleeping until the async bus catches up. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
