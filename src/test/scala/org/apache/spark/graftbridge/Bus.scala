package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test access to the driver's listener bus, which is package-private to
  * Spark: status queries (e.g. active job ids) read listener-fed state, so
  * they are exact only once every event posted so far has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
