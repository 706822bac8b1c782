package org.apache.spark

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus

/** Counts the `StreamingQueryListenerBus` entries on the driver's listener
  * bus, which Spark keeps package-private. Every Spark event is dispatched
  * to each of them, so a count that grows per streaming query is a leak.
  */
object ListenerCount {
  def streamingBuses(sc: SparkContext): Int =
    sc.listenerBus.listeners.asScala.count(_.isInstanceOf[StreamingQueryListenerBus])
}
