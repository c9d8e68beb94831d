package org.apache.spark

/** Reaches the listener bus's drain, which Spark keeps package-private:
  * the benchmark reads its listener events only after every posted
  * event has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
