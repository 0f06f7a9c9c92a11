package org.apache.spark

import org.apache.spark.scheduler.SparkListenerInterface

/** Test-only shim: `SparkContext.listenerBus` is `private[spark]`; specs
  * use it to drain every listener queue and to put a listener on a queue
  * of its own. */
object GraftTestBus {
  /** Wait up to `timeoutMs` for every listener queue to drain; false on
    * timeout. */
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }

  def addToQueue(sc: SparkContext, listener: SparkListenerInterface, queue: String): Unit =
    sc.listenerBus.addToQueue(listener, queue)

  /** Remove `listener` from its queue, stopping the queue if it is left
    * empty. */
  def remove(sc: SparkContext, listener: SparkListenerInterface): Unit =
    sc.listenerBus.removeListener(listener)
}
