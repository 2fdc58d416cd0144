package org.apache.spark

/** Blocks until every listener event posted so far has been delivered,
  * so span aggregation sees each job that ran. The bus is Spark-internal,
  * hence this one-line bridge in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
