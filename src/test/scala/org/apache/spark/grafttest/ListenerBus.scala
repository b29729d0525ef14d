package org.apache.spark.grafttest

import org.apache.spark.SparkContext

/** The listener bus's drain is package-private to Spark; this shim lives
  * in Spark's package so a spec can wait for every posted event before
  * it reads what its listener counted. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
