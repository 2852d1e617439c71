package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * tracer drains it at span boundaries so that every event of a span is
  * delivered while that span is current.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
