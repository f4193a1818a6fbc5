package org.apache.spark

/** Blocks until every listener event posted so far has been delivered, so
  * a benchmark-registered SparkListener has seen all task and job ends of
  * the calls that just returned. The bus is package-private to Spark,
  * hence this file's package (the same seam Spark's own suites use). */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
