package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the tracer reads its counters only after every event of the traced
  * jobs has been delivered. */
object PipebenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
