package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered.
  * Spark posts a job's end event before the action returns, so after a
  * drain the benchmark's listener holds the complete record of every
  * job the operation ran. The bus is private to Spark, hence this
  * package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
