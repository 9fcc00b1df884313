package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one scheduler internal the tracer needs: waiting until every
  * posted listener event has been delivered, so the counters it reads
  * at the end of a run are complete.
  */
object SparkInternals {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
