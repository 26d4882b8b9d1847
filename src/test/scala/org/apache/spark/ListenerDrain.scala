package org.apache.spark

/** Test helper: blocks until every listener event posted so far has been
  * delivered, so a listener's counts are complete when it is read.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
