package org.apache.spark

/** Reaches the one `private[spark]` call the tracer needs: waiting until
  * the listener bus has delivered every event posted so far. */
object PerfbenchShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
