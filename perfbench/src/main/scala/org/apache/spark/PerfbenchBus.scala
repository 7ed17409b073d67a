package org.apache.spark

/** Deterministic listener drain for the benchmark's tracer. The live
  * listener bus is `private[spark]`; waiting until it is empty means
  * every event posted before the call has been delivered, so a stage
  * can never be attributed to the next op the way a fixed sleep can.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
