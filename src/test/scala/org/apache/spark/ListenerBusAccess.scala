package org.apache.spark

/** Specs that count scheduler events need every posted listener event
  * delivered before they read their counters; Spark keeps that wait
  * package-private.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
