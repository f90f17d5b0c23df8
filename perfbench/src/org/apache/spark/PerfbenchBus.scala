package org.apache.spark

/** Waits until every listener queue of `sc` has delivered the events
  * posted so far, so a traced operation's counts are complete before the
  * next operation starts. The bus is private to Spark, hence the package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
