package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Test access to Spark internals the public API does not expose. */
object TestBridge {
  /** Blocks until every listener has processed every event posted so far:
    * job ends and query-execution callbacks are delivered asynchronously. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
