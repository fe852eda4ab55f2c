package org.apache.spark

/** The listener bus delivers events asynchronously. The traced run drains
  * it at every unit boundary, so each job, query execution and streaming
  * progress event is counted inside the unit that caused it. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
