package org.apache.spark

/** The listener bus drain is `private[spark]`; the traced mode needs it so
  * that every event of the timed region is counted before the counters
  * are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
