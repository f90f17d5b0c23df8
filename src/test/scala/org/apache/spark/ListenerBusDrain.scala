package org.apache.spark

/** Waits until every listener queue of `sc` has delivered the events
  * posted so far, so a spec's listener has seen all of an operation's
  * events before it asserts on them. The bus is private to Spark, hence
  * the package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
