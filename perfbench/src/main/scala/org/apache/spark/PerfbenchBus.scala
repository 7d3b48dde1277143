package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * the tracer can attribute Spark job, task and query events to the span
  * that caused them. The bus is package-private to Spark, hence this
  * package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
