package org.apache.spark

/** Lets the benchmark wait until its listeners have seen every event
  * posted so far, so end-of-run counts are complete. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
