package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously. Before a run's metrics are
  * read, every event the run posted must have reached the benchmark's
  * listener; the bus exposes that wait only inside the `spark` package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
