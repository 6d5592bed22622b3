package org.apache.spark

/** Spark-internal access the job-count specs need: block until the
  * listener bus has delivered every queued event, so a listener has
  * seen every job an action launched before it is read or removed. */
object GraftTestAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
