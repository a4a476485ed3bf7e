package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the tracer must see every job and task event before it sums them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
