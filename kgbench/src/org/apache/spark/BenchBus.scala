package org.apache.spark

/** Lets the benchmark wait for the listener bus to deliver every event of
  * the jobs it has run, so per-layer task metrics are complete when read.
  * `listenerBus` is package-private to Spark, hence this package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
