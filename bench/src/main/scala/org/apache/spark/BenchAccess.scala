package org.apache.spark

/** The one scheduler hook the benchmark needs that Spark keeps
  * package-private: waiting until every posted listener event has been
  * delivered, so per-pass counters are complete when they are read.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
