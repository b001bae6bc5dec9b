package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * spec can count the jobs a block started right after it returns. The bus
  * is package-private to Spark, hence this file's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
