package org.apache.spark

/** Access to Spark internals the benchmark needs and Spark keeps private. */
object BenchBridge {
  /** Block until every posted listener event has been delivered, so the
    * counts a listener holds cover every job that already finished. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
