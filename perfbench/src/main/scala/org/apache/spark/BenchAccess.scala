package org.apache.spark

/** The one package-private Spark call the harness needs: waiting for the
  * listener bus to drain, so counters read after a phase include every
  * event that phase posted.
  */
object BenchAccess {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
