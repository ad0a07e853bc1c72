package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * the benchmark's listener has seen all jobs of a unit before the unit's
  * numbers are read. Lives in this package because the listener bus is
  * `private[spark]`. */
object BusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
