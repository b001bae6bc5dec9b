package org.apache.spark

/** Lets the traced run wait until every listener event posted so far has
  * been delivered, so an op's job, task, query and progress events are all
  * attributed to it before the next op starts. The bus is package-private
  * to Spark, hence this file's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
