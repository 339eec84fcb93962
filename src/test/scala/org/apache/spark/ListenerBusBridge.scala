package org.apache.spark

/** Bridge to Spark's `private[spark]` listener bus for specs: drain it so
  * a listener has seen every event posted so far before a count is read. */
object ListenerBusBridge {
  /** Blocks until every queued listener event is delivered; throws a
    * `TimeoutException` after Spark's default wait rather than return early. */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
