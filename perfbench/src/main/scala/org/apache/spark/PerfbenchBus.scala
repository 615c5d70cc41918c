package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the recorder waits for queued listener events before it reads its
  * counters or detaches. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
