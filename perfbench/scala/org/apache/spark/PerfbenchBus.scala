package org.apache.spark

/** The one private Spark hook the benchmark needs: block until the
  * listener bus has delivered every posted event, so the counters a
  * traced op reads back are complete when the op's record is cut. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
