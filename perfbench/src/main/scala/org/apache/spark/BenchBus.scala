package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * traced operation's jobs, stages, tasks and query events are all in hand
  * when it is summarised. The bus is package-private to Spark.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
