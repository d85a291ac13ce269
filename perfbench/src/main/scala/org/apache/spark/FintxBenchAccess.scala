package org.apache.spark

/** The one package-private hook the benchmark needs: block until every
  * listener event posted so far has been delivered, so window counters
  * read after a window include all of its jobs and tasks.
  */
object FintxBenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
