package org.apache.spark

/** Waits until every listener queue of `sc` has delivered its events, so
  * the benchmark's listeners have seen a job's events before they are
  * read (the drain Spark's own listener tests use; package-private API). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
