package org.apache.spark

/** Access to the driver's listener bus, which Spark keeps package
  * private. The tracer waits for the bus to empty before it reads its
  * counters, so every job, task and query-execution event of a query
  * has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
