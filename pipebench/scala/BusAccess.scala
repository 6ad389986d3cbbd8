package org.apache.spark

/** The listener bus is private to Spark; the tracer needs to drain it so
  * that every event of a span is processed before the span closes. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
