package org.apache.spark

/** The listener bus is package-private; the benchmark needs it drained
  * so that every job, task and streaming-progress event of an op has
  * reached its listeners before the op's counters are read.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
