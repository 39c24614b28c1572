package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event,
  * so an op's job, stage and task metrics are complete when the traced
  * run reads them. The bus is package-private to Spark.
  */
object AzofBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
