package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark drains it before it reads its listener's counts, so every
  * event of a finished call has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
