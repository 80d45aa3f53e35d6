package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** The two Spark internals the traced run reads that have no public API:
  * draining the listener bus at a pass boundary (so every event of a pass
  * is attributed to that pass) and the codegen compile counters. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** (compilations so far, mean compile time in ms of the recent ones).
    * The histogram keeps a decaying sample, so the mean is approximate;
    * the count is exact. */
  def codegenCompiles(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
}
