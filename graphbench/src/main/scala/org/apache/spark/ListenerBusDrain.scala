package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so a job's end and its tasks' metrics are visible right after the
  * action that ran it returns. The bus is package-private to Spark.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
