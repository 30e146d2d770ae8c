package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * traced op's counts are complete when the op ends. Lives in Spark's
  * package because the listener bus is not public. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit =
    if (!sc.isStopped) sc.listenerBus.waitUntilEmpty(60000L)
}
