package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously, and the wait for
  * delivery (`listenerBus.waitUntilEmpty`) is `private[spark]`: readers
  * of listener state call [[drain]] first.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
