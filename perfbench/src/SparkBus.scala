package org.apache.spark

/** The listener bus is delivered asynchronously and its drain call is
  * package-private; this one-line bridge lets the tracer wait for it. */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
