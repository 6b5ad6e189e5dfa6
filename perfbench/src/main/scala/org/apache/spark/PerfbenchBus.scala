package org.apache.spark

/** Blocks until Spark's listener bus has delivered every queued event, so
  * the benchmark's listeners have seen the last job and micro-batch before
  * their records are read. (The bus is `private[spark]`.)
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
