package org.apache.spark

/** Package bridge to the `private[spark]` listener bus, for
  * graft.obs.QueryProfile. No Spark internals are modified. */
object GraftListenerBridge {
  /** Blocks until every event posted so far has reached every listener
    * (Spark's own bound: 10 s, then a TimeoutException). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
