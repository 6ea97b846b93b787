package org.apache.spark

/** The benchmark's one call into Spark-private API: block until every
  * listener has seen every event posted so far, so a traced request's
  * events are attributed before the next request starts. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
