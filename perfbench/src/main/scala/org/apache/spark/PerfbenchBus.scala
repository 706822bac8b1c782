package org.apache.spark

/** The benchmark reads task metrics right after a job returns. Task-end
  * events reach listeners asynchronously, so it first drains the listener
  * bus, which Spark keeps package-private.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
