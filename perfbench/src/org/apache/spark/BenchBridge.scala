package org.apache.spark

/** The one Spark-private call the benchmark needs: block until every event
  * posted so far has reached the listeners. The traced run drains after each
  * call, so the counters collected since the previous drain belong to that
  * call alone. Never used on the untraced path. */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
