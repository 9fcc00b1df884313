package org.apache.spark

/** Test-side doorway to the driver's listener bus, which Spark keeps
  * package-private: blocks until every queued event (job starts
  * included) has reached its listeners.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
