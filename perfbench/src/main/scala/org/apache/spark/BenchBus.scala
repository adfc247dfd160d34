package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * the benchmark's listeners have seen all jobs before it reads them. The
  * bus is private to Spark, hence this one-line bridge in its package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
