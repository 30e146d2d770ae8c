package org.apache.spark

/** Test-only bridge into the spark package: restore SparkContext state
  * public API cannot reset — `setCheckpointDir` has no unsetter — so a
  * suite that mutates the SHARED test session (SparkSpec.session) can
  * clean up after itself instead of leaking order-dependent behavior
  * into every later suite in the JVM. */
object GraftTestBridge {
  def clearCheckpointDir(sc: SparkContext): Unit =
    sc.checkpointDir = None

  /** Wait until every listener event posted so far is delivered — the
    * listener bus is not public — so a test's counting listener has
    * seen every job that has started. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
