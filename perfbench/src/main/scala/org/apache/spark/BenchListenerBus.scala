package org.apache.spark

/** Spark delivers listener events asynchronously; a span's counters are
  * final only once the bus has drained. The drain call is package-private
  * to Spark, hence this one-line bridge in Spark's package. */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
