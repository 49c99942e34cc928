package org.apache.spark

/** Accessor for the `private[spark]` listener bus, so the benchmark can
  * wait until every listener event of a run is delivered before it
  * aggregates them, instead of sleeping for a guessed drain time. */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
