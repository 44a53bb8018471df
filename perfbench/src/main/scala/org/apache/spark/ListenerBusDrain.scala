package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so
  * far (listener events, `QueryExecutionListener` and
  * `StreamingQueryListener` callbacks alike). The bus is internal to
  * Spark, hence this one helper in Spark's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
