package org.apache.spark

/** The one scheduler hook the traced run needs that Spark keeps package
  * private: wait until the listener bus has delivered every queued event,
  * so each key's jobs, stages and tasks are attributed before the next key
  * starts. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
