package org.apache.spark

/** The listener bus's drain is package-private in Spark. The traced run
  * waits on it after every operation, so that each event the operation
  * caused is delivered before the next operation starts and attribution
  * by delivery window is exact. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
