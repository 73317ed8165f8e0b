package org.apache.spark

/** Deterministic listener-bus drain: returns once every event posted before
  * the call (jobs, stages, SQL executions, stream progress) has reached
  * every listener. Lives in this package because the bus is Spark-private. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
