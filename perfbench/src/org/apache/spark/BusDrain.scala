package org.apache.spark

/** Blocks until every listener event posted so far has been delivered, so
  * the tracer holds all spans of a pass before it is detached. The bus is
  * package-private to Spark, hence this file's package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
