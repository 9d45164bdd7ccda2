package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered, so
  * the benchmark's collector has seen all of an operation's jobs, stages
  * and tasks before the next operation starts. The listener bus is
  * package-private to Spark, hence this file's package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
