package org.apache.spark

/** The one package-private Spark call the traced run needs: wait until
  * every listener has seen every event posted so far, so the events of
  * one operation are attributed before the next operation starts.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
