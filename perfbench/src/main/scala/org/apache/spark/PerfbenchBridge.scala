package org.apache.spark

/** The one Spark-internal hook the benchmark needs: waiting until the
  * listener bus has delivered every event posted so far, so job counts
  * read right after an op include all of the op's jobs. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
