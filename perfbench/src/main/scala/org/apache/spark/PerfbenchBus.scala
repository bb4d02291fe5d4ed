package org.apache.spark

/** The listener bus is package-private; the tracer needs to wait until every
  * posted event has reached its listeners before it reads them.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
