package org.apache.spark

/** Access to the SparkContext's listener bus, which Spark keeps
  * package-private: the traced run drains it at the end of every
  * operation so listener events are charged to the operation that
  * caused them.
  */
object GraftBenchShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
