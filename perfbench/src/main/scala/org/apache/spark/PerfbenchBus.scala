package org.apache.spark

/** Listener events reach listeners asynchronously; readers of listener
  * state first wait until every event posted so far has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
