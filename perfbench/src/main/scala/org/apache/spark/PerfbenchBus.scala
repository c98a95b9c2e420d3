package org.apache.spark

/** The one piece of Spark internals the benchmark needs: block until the
  * listener bus has delivered every posted event, so per-query task
  * counters are complete before they are read. Lives in Spark's package
  * because `listenerBus` is `private[spark]`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
