package org.apache.spark

/** The one engine-private call the job-counting tests need: block until
  * every listener event posted so far has been delivered, so a count
  * read after an action is complete. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
