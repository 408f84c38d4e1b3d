package org.apache.spark

/** Waits until every event posted so far has reached every listener, so a
  * traced job's Spark, SQL and streaming events are all attributed to it
  * before the next job starts. The bus is private to Spark, hence the
  * package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
