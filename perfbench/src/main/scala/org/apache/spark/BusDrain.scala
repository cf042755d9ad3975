package org.apache.spark

/** Lets the benchmark wait until the listener bus has delivered every
  * queued event, so traced job, stage and task spans are complete before
  * they are written out. The bus itself is package-private to Spark. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
