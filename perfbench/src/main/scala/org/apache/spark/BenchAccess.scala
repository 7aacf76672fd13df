package org.apache.spark

/** The one Spark-internal hook the benchmark uses: block until every
  * listener queue has delivered what was posted so far, so traced counts
  * are read after their events arrive instead of after a sleep.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
