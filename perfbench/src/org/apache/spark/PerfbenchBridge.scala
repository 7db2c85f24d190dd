package org.apache.spark

/** The one engine-private call the recorder needs: block until every
  * listener event posted so far has been delivered, so per-execution
  * counters are complete before they are read. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
