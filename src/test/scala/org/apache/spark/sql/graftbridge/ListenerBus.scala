package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Test access to the `private[spark]` listener bus: waits until every
  * event posted so far has reached every listener. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
