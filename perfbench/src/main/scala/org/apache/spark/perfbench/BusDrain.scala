package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain is Spark-private; this bridge lives in Spark's
  * package so the tracer can wait for every posted event before it reads
  * what its listeners recorded. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
