package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * traced job's Spark jobs and planning phases are all recorded before
  * the next job starts. The bus is private to Spark's own package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
