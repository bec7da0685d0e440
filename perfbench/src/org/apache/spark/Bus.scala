package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so counter snapshots cover all finished work. The bus handle is
  * package-private to Spark, hence this file's package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
