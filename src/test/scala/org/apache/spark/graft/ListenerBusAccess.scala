package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Specs that read listener events must wait until the asynchronous
  * listener bus has delivered them; the bus is private to Spark.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
