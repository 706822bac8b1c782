package org.apache.spark

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus

/** Reaches the driver's listener bus, which Spark keeps package-private. */
object ListenerCount {
  /** Counts the `StreamingQueryListenerBus` entries on the bus. Every Spark
    * event is dispatched to each of them, so a count that grows per
    * streaming query is a leak.
    */
  def streamingBuses(sc: SparkContext): Int =
    sc.listenerBus.listeners.asScala.count(_.isInstanceOf[StreamingQueryListenerBus])

  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
