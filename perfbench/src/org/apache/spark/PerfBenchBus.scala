package org.apache.spark

/** Listener-bus barrier for the benchmark: after an action returns, its
  * job/stage/task events may still sit in the asynchronous bus. The
  * benchmark reads its listener only after this returns. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
