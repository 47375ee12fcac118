package org.apache.spark

/** The listener bus delivers events on its own thread; the traced run
  * drains it before reading counters so each call's jobs are charged to
  * that call. Lives in Spark's package because the drain is
  * package-private there.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
