package org.apache.spark

import org.apache.spark.scheduler.SparkListenerEvent

/**
 * Scala-visibility shim: `SparkContext.listenerBus` and
 * `SparkListenerEvent.logEvent` are `private[spark]`, so the calls graft
 * needs are re-exported here from inside the spark package.
 * [[graft.result.JobStats.measure]] posts a [[Marker]] after its body and
 * waits for its own listener to receive it: every job inside the body has
 * COMPLETED before the body returns, so its events are already posted, and
 * a listener queue delivers in post order. Draining the whole bus instead
 * would also wait for Spark's UI queues, which poll with 10 ms sleeps.
 */
object GraftListenerBus {
  /** An event that marks a point in the bus's order. No event log records
    * it, and Spark's own listeners ignore it. */
  final class Marker extends SparkListenerEvent {
    override protected[spark] def logEvent: Boolean = false
  }

  /** Post `event` to every listener queue of `sc`. */
  def post(sc: SparkContext, event: SparkListenerEvent): Unit = sc.listenerBus.post(event)
}
