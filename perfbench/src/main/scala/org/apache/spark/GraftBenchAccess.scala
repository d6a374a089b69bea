package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * counters read right after a job must include that job's events. */
object GraftBenchAccess {
  def drainListeners(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
