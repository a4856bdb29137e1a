package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so per-statement Spark counters are complete before
  * they are read. The listener bus is private to the `spark` package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
