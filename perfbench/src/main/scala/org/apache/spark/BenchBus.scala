package org.apache.spark

/** The listener bus is private to Spark; the traced run needs to wait
  * until every posted event has been delivered before it reads or
  * detaches its listeners. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
