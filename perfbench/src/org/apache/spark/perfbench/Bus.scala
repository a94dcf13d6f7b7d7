package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** A marker posted on Spark's shared listener queue. The queue delivers
  * events in order to every listener on it, so once a listener has seen
  * marker `id`, every event posted before it has been fully delivered —
  * job and stage ends, SQL execution ends, and the QueryExecutionListener
  * callbacks (their bus sits on the same queue). */
final case class BusMarker(id: Long) extends SparkListenerEvent {
  override protected[spark] def logEvent: Boolean = false
}

object Bus {
  /** `SparkContext.listenerBus` is package-private; this file lives in the
    * Spark package only to reach it. */
  def post(sc: SparkContext, marker: BusMarker): Unit = sc.listenerBus.post(marker)
}
