package org.apache.spark

/** Specs that read listener-fed state (status tracker, their own
  * listeners) drain the bus first, which Spark keeps package-private,
  * so every event of a finished call has been delivered.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
