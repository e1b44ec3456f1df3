package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so far.
  * Spark exposes this only inside its own package (tests use it the same
  * way); the benchmark needs it to detach its listeners without losing
  * the tail of a traced pass. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
