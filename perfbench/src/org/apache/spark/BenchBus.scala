package org.apache.spark

/** The listener bus's drain is private to Spark; the benchmark needs it so
  * that every task-end event of a timed call has been delivered before the
  * call's counters are read.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
