package org.apache.spark

/** Waits until every event posted so far has reached every listener, so a
  * traced call's job, task and query events are all attributed before the
  * next call starts. Lives in this package because the bus is Spark-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
