package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * the trace is complete before it is written. The bus is Spark-private,
  * hence this one-method bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
