package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so the
  * benchmark's job listener has seen all jobs of an operation before its
  * spans are read. The bus itself is package-private to Spark.
  */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
