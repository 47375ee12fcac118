package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Drains the listener bus, so a test's listener has seen every event
  * of the jobs that already ran. Lives in Spark's package because the
  * drain is package-private there.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
