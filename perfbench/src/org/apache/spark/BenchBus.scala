package org.apache.spark

/** Lets the benchmark wait until every posted listener event (jobs, stages,
  * SQL executions, streaming progress) has been delivered before it reads
  * its counters; the bus drain itself is Spark-internal.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
