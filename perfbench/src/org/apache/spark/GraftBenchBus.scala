package org.apache.spark

/** Listener events are delivered asynchronously. The traced run attributes
  * every job, stage, task and query event to the layer call that caused
  * it, so it drains the bus after each call. The bus is package-private to
  * Spark, hence this one accessor in Spark's package.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
